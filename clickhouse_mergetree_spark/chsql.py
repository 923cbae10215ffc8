"""ClickHouse SELECT-dialect front end: translate a CH-dialect query to
Spark SQL and run it via ``spark.sql``.

The reference engine's query surface is a C++ API, but every migrating
user's notebooks and dashboards hold ClickHouse SQL. ``create_table_from_ddl``
(engine/ddl.py) already accepts their CREATE/ALTER statements; this module
covers the SELECT side for the dialect subset that translates 1:1 onto
Spark SQL — function renames, ClickHouse's parameterized-aggregate syntax,
``-If`` combinators, ``multiIf``, PREWHERE, and the FORMAT/SETTINGS
statement suffixes. Constructs with no 1:1 string form (LIMIT BY,
ASOF JOIN, ARRAY JOIN clauses, WITH FILL, topK) are routed by ``ch_sql``
as DataFrame plans built from their dedicated operators; SAMPLE and
FINAL need the engine table, so ``ClickHouseSession`` routes them. The
bare string translator REFUSES these loudly rather than mistranslating,
listing the construct and its route, so a runbook migration surfaces
every non-1:1 query instead of silently changing its meaning.

Translation is token-aware (quote- and paren-safe), not a SQL parser:
each rule rewrites one well-delimited construct, the subset is exactly
what the tests pin, and unknown functions pass through untouched (Spark
will error on genuinely unknown names — same contract as ClickHouse
running an unknown function). Catalyst sees plain Spark SQL, so the
translated query optimizes exactly like a hand-written one: pushdown,
pruning, join reordering, whole-stage codegen — translation happens once
on a string, never per row.

Documented deviations (ClickHouse aggregates return DEFAULT values over
empty sets — CH 24.x behavior, verified against the 24.x SQL reference
"Aggregate Function Combinators: -If" + "uniq" docs; CH only returns
NULL-on-empty under the -OrNull combinator or when
`aggregate_functions_null_for_empty` is enabled): countIf/sumIf/uniqIf
over zero matching rows are 0 and avgIf is nan (all four CH-exact here,
r9/r10/r11); minIf/maxIf (CH: the value type's default — 0 / '' /
epoch) stay NULL when no row matches — the string-level translator has
no schema to type the default, and a wrong-typed coalesce would error
or corrupt. A migrating user who needs CH's exact minIf/maxIf
empty-match value can write `coalesce(minIf(...), <typed default>)`
explicitly. WITH TOTALS over an empty input yields no rows (Spark
GROUPING SETS), where ClickHouse emits a zero-aggregate totals block.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# token helpers (quote- and paren-aware)
# ---------------------------------------------------------------------------


def _find_call(s: str, name_re: str, start: int = 0):
    """Find the next ``name(...)`` call of a function matching ``name_re``
    outside quotes; return (name_start, open_paren_idx) or None."""
    pat = re.compile(r"(?i)\b(" + name_re + r")\s*\(")
    i = start
    while True:
        m = pat.search(s, i)
        if not m:
            return None
        # reject matches inside string literals: count unescaped quotes
        prefix = s[: m.start()]
        if prefix.count("'") % 2 == 1:
            i = m.end()
            continue
        return m.start(), s.index("(", m.end(1))


def _match_paren(s: str, open_idx: int) -> int:
    """Index of the ``)`` closing the ``(`` at open_idx (quote-aware)."""
    depth, i, n = 0, open_idx, len(s)
    quote = None
    while i < n:
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch == "'":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError(f"unbalanced parentheses after index {open_idx}")


def _split_args(s: str) -> list[str]:
    """Split a call's argument text on top-level commas (quote/paren-aware)."""
    out, depth, buf, quote = [], 0, [], None
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch == "'":
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out


def _rewrite_calls(s: str, name_re: str, fn) -> str:
    """Rewrite every ``name(args)`` call: fn(name, [args]) -> replacement
    text. Processes left-to-right, recursing into already-rewritten text
    is avoided by restarting the scan after each replacement's end."""
    pos = 0
    while True:
        hit = _find_call(s, name_re, pos)
        if hit is None:
            return s
        name_start, open_idx = hit
        close_idx = _match_paren(s, open_idx)
        name = s[name_start:open_idx].strip()
        args = _split_args(s[open_idx + 1: close_idx])
        # translate arguments bottom-up first so nested dialect calls
        # inside the args are already Spark SQL when fn() assembles them
        args = [_translate_expr(a) for a in args]
        repl = fn(name, args)
        s = s[:name_start] + repl + s[close_idx + 1:]
        pos = name_start + len(repl)


# ---------------------------------------------------------------------------
# rules
# ---------------------------------------------------------------------------

# plain function renames: same arity, same argument order.
_RENAMES = {
    "todate": "to_date",
    "todatetime": "to_timestamp",
    "toyear": "year",
    "tomonth": "month",
    "todayofmonth": "day",
    "todayofweek": "dayofweek",
    "tohour": "hour",
    "tominute": "minute",
    "tosecond": "second",
    "groupargray": "collect_list",   # common misspelling guard (no-op)
    "grouparray": "collect_list",
    "groupuniqarray": "collect_set",
    "uniq": "approx_count_distinct",
    "any": "any_value",
    "anylast": "any_value",
    "argmax": "max_by",
    "argmin": "min_by",
    "has": "array_contains",
    "indexof": "array_position",
    "arrayelement": "element_at",
    "arraysort": "array_sort",
    "arrayreverse": "reverse",
    "arrayconcat": "concat",
    "arrayuniq": "array_distinct",
    "arrayflatten": "flatten",
    "lengthutf8": "length",
    "lowerutf8": "lower",
    "upperutf8": "upper",
    "lcase": "lower",
    "ucase": "upper",
    "position": "instr",
    "ifnull": "nvl",
    "startswith": "startswith",
    "endswith": "endswith",
    "trimboth": "trim",
    "trimleft": "ltrim",
    "trimright": "rtrim",
    "replaceall": "replace",
    "replaceregexpall": "regexp_replace",
    "tounixtimestamp": "unix_timestamp",
    "fromunixtimestamp": "from_unixtime",
    "toquarter": "quarter",
    "todayofyear": "dayofyear",
    "todate32": "to_date",
    "arraymin": "array_min",
    "arraymax": "array_max",
    "arrayslice": "slice",
    "arraypushback": "array_append",
    "arraypushfront": "array_prepend",
    "arrayintersect": "array_intersect",
    "leftpad": "lpad",
    "rightpad": "rpad",
    "concatwithseparator": "concat_ws",
    "substringutf8": "substring",
    "stddevpop": "stddev_pop",
    "stddevsamp": "stddev_samp",
    "varpop": "var_pop",
    "varsamp": "var_samp",
    "covarpop": "covar_pop",
    "covarsamp": "covar_samp",
    "corr": "corr",
    "assumenotnull": "",             # identity: drop the wrapper
}

# formatDateTime %-codes -> Java SimpleDateFormat (the subset that maps
# 1:1; anything else refuses rather than silently reformatting)
_FDT_CODES = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%M": "mm", "%S": "ss", "%F": "yyyy-MM-dd", "%T": "HH:mm:ss",
    "%j": "DDD", "%e": "d",
}

# toStartOfX -> date_trunc('x', arg)
_TRUNC = {
    "tostartofday": "day", "tostartofhour": "hour",
    "tostartofminute": "minute", "tostartofmonth": "month",
    "tostartofquarter": "quarter", "tostartofyear": "year",
    "tostartofweek": "week", "tomonday": "week",
}

# toTypeName casts
_CASTS = {
    "touint8": "int", "touint16": "int", "touint32": "bigint",
    "touint64": "bigint", "toint8": "int", "toint16": "int",
    "toint32": "int", "toint64": "bigint",
    "tofloat32": "float", "tofloat64": "double",
    "tostring": "string",
}

# higher-order array functions: CH is lambda-first, Spark is
# collection-first — swap the argument order.
_LAMBDA_ARRAY = {
    "arraymap": "transform",
    "arrayfilter": "filter",
    "arrayexists": "exists",
    "arrayall": "forall",
}

# -If combinators: agg(x) filtered by the LAST argument.
_IF_COMBINATORS = {
    "countif": None,                 # countIf(cond) -> count_if(cond)
    "sumif": "sum", "avgif": "avg", "minif": "min", "maxif": "max",
    "uniqif": "approx_count_distinct",
}


def _fn_dispatch(name: str, args: list[str]) -> str:
    low = name.lower()
    if low in _TRUNC:
        return f"date_trunc('{_TRUNC[low]}', {args[0]})"
    if low in _CASTS:
        return f"CAST({args[0]} AS {_CASTS[low]})"
    if low == "countif":
        return f"count_if({args[0]})"
    if low == "uniqexact":
        return f"count(DISTINCT {', '.join(args)})"
    if low == "median":
        return f"percentile({args[0]}, 0.5)"
    if low == "arraystringconcat":
        # CH separator is OPTIONAL (default ''); Spark's array_join
        # requires one — caught by the registry-wide parse sweep
        sep = args[1] if len(args) > 1 else "''"
        return f"array_join({args[0]}, {sep})"
    if low in _IF_COMBINATORS and low != "countif":
        agg = _IF_COMBINATORS[low]
        *vals, cond = args
        inner = f"{agg}(if({cond}, {', '.join(vals)}, NULL))"
        if low == "sumif":
            # ClickHouse aggregate functions return DEFAULT values over
            # empty sets: sumIf with zero matching rows in a group is 0,
            # where sum(if(..., NULL)) is NULL (found by the r9 dialect
            # fuzz, seeds 22/50 — a migrated dashboard would silently
            # show NULLs).
            return f"coalesce({inner}, 0)"
        if low == "avgif":
            # CH 24.x: avgIf over zero matching rows is nan (0/0), not
            # NULL — emulable type-agnostically since avg always returns
            # double (r10, VERDICT r9 item 6). minIf/maxIf (CH: the
            # value type's default — 0 / '' / epoch) stay NULL-on-empty:
            # the string-level translator has no schema to type the
            # default, and a wrong-typed coalesce would error or corrupt
            # (documented deviation, module doc).
            return f"coalesce({inner}, CAST('NaN' AS DOUBLE))"
        return inner
    if low == "multiif":
        if len(args) < 3 or len(args) % 2 == 0:
            raise ValueError(
                f"multiIf needs an odd argument count >= 3, got {len(args)}")
        parts = ["CASE"]
        for c, v in zip(args[:-1:2], args[1::2]):
            parts.append(f"WHEN {c} THEN {v}")
        parts.append(f"ELSE {args[-1]} END")
        return " ".join(parts)
    if low == "if":
        return f"if({', '.join(args)})"
    if low == "intdiv":
        return f"({args[0]} DIV {args[1]})"
    if low == "modulo":
        return f"({args[0]} % {args[1]})"
    if low == "numbers":
        # CH table function: numbers(N) -> 0..N-1, numbers(off, cnt) ->
        # off..off+cnt-1; Spark's range() TVF is end-exclusive and names
        # the column id, so wrap in a renaming subquery (legal anywhere a
        # table reference is - the only position CH allows numbers() in)
        if len(args) == 1:
            return f"(SELECT id AS number FROM range({args[0]}))"
        if len(args) == 2:
            return (f"(SELECT id AS number FROM range({args[0]}, "
                    f"({args[0]}) + ({args[1]})))")
        raise ValueError(
            f"numbers() takes 1 or 2 arguments, got {len(args)}")
    if low == "arrayjoin":
        return f"explode({args[0]})"
    if low == "empty":
        return f"({args[0]} = '')"
    if low == "notempty":
        return f"({args[0]} <> '')"
    if low == "splitbychar":
        sep = args[0]
        m = re.fullmatch(r"'(.)'", sep)
        if not m:
            raise ValueError(
                "splitByChar: only single-character literal separators "
                f"translate ({sep!r} given)")
        # Spark split takes a REGEX and its string literals eat single
        # backslashes, so a metachar separator ('.', '|', ...) needs
        # re.escape AND backslash doubling — without it '.' split on
        # every character (caught by the r9 runbook ARRAY JOIN demo)
        esc = re.escape(m.group(1)).replace("\\", "\\\\").replace("'", "''")
        return f"split({args[1]}, '{esc}')"
    if low == "match":
        return f"({args[0]} RLIKE {args[1]})"
    if low == "isnull":
        return f"({args[0]} IS NULL)"
    if low == "isnotnull":
        return f"({args[0]} IS NOT NULL)"
    if low == "datediff":
        m = re.fullmatch(r"'(\w+)'", args[0])
        if not m:
            raise ValueError(
                "dateDiff: only literal unit strings translate "
                f"({args[0]!r} given)")
        return f"timestampdiff({m.group(1).upper()}, {args[1]}, {args[2]})"
    if low in ("jsonextractstring", "jsonextractint",
               "jsonextractfloat", "jsonextractraw"):
        m = re.fullmatch(r"'([\w.]+)'", args[1]) if len(args) == 2 else None
        if not m:
            raise ValueError(
                f"{name}: only a single literal key path translates")
        base = f"get_json_object({args[0]}, '$.{m.group(1)}')"
        if low == "jsonextractint":
            return f"CAST({base} AS BIGINT)"
        if low == "jsonextractfloat":
            return f"CAST({base} AS DOUBLE)"
        return base
    if low == "formatdatetime":
        m = re.fullmatch(r"'([^']*)'", args[1]) if len(args) == 2 else None
        if not m:
            raise ValueError(
                "formatDateTime: only a literal format string translates")
        fmt = m.group(1)
        out, i = [], 0
        while i < len(fmt):
            if fmt[i] == "%":
                code = fmt[i:i + 2]
                if code not in _FDT_CODES:
                    raise ValueError(
                        f"formatDateTime: no 1:1 Java format for {code!r}")
                out.append(_FDT_CODES[code])
                i += 2
            else:
                if fmt[i].isalpha():
                    out.append(f"'{fmt[i]}'")  # quote literal letters
                else:
                    out.append(fmt[i])
                i += 1
        return f"date_format({args[0]}, '{''.join(out)}')"
    if low in _LAMBDA_ARRAY:
        if len(args) != 2:
            raise ValueError(f"{name} translates only in its 2-argument "
                             f"(lambda, array) form, got {len(args)} args")
        return f"{_LAMBDA_ARRAY[low]}({args[1]}, {args[0]})"
    if low == "arraycount":
        if len(args) != 2:
            raise ValueError("arrayCount translates only in its "
                             "(lambda, array) form")
        return f"size(filter({args[1]}, {args[0]}))"
    if low == "arrayfirst":
        if len(args) != 2:
            raise ValueError("arrayFirst translates only in its "
                             "(lambda, array) form")
        return f"try_element_at(filter({args[1]}, {args[0]}), 1)"
    if low == "arraysum":
        # arraySum(a) and arraySum(f, a); both fold as doubles (the CH
        # result type for Float sums) so empty arrays yield 0.0
        arr = args[0] if len(args) == 1 else \
            f"transform({args[1]}, {args[0]})"
        return (f"aggregate({arr}, CAST(0 AS DOUBLE), "
                f"(acc, x) -> acc + x)")
    if low == "arrayavg":
        arr = args[0] if len(args) == 1 else \
            f"transform({args[1]}, {args[0]})"
        return (f"(aggregate({arr}, CAST(0 AS DOUBLE), "
                f"(acc, x) -> acc + x) / size({arr}))")
    if low == "arrayenumerate":
        return f"sequence(1, size({args[0]}))"
    if low == "arraypopback":
        # greatest(..., 0): slice's length arg may not be negative in
        # Spark — an empty input must yield [], as in ClickHouse
        return f"slice({args[0]}, 1, greatest(size({args[0]}) - 1, 0))"
    if low == "arraypopfront":
        return f"slice({args[0]}, 2, greatest(size({args[0]}) - 1, 0))"
    if low == "range":
        # ClickHouse range: end-EXCLUSIVE, empty when end <= start.
        # Spark sequence is end-inclusive and reverses when end < start,
        # so guard explicitly.
        if len(args) == 1:
            a, b, st = "0", args[0], None
        elif len(args) == 2:
            a, b, st = args[0], args[1], None
        elif len(args) == 3:
            a, b, st = args[0], args[1], args[2]
        else:
            raise ValueError("range takes 1-3 arguments")
        seq = (f"sequence({a}, ({b}) - 1)" if st is None
               else f"sequence({a}, ({b}) - 1, {st})")
        return (f"IF(({b}) <= ({a}), array(), {seq})")
    if low == "hasall":
        return f"forall({args[1]}, x -> array_contains({args[0]}, x))"
    if low == "hasany":
        return f"exists({args[1]}, x -> array_contains({args[0]}, x))"
    if low == "splitbystring":
        m = re.fullmatch(r"'(.*)'", args[0], re.S)
        if not m:
            raise ValueError("splitByString: only literal separators "
                             "translate (Spark split takes a regex)")
        esc = re.escape(m.group(1)).replace("\\", "\\\\").replace("'", "''")
        return f"split({args[1]}, '{esc}')"
    if low == "splitbywhitespace":
        return f"split(trim({args[0]}), '\\\\s+')"
    if low in ("bitand", "bitor", "bitxor",
               "bitshiftleft", "bitshiftright"):
        op = {"bitand": "&", "bitor": "|", "bitxor": "^",
              "bitshiftleft": "<<", "bitshiftright": ">>"}[low]
        return f"({args[0]} {op} {args[1]})"
    if low == "bitnot":
        return f"(~{args[0]})"
    if low in ("toyyyymm", "toyyyymmdd"):
        fmt = "yyyyMM" if low == "toyyyymm" else "yyyyMMdd"
        return f"CAST(date_format({args[0]}, '{fmt}') AS INT)"
    if low in _ADD_UNITS:
        unit, sign = _ADD_UNITS[low]
        n = args[1] if sign > 0 else f"-({args[1]})"
        return f"timestampadd({unit}, {n}, {args[0]})"
    if low in ("dateadd", "datesub"):
        m = re.fullmatch(r"'?(\w+)'?", args[0])
        if not m or len(args) != 3:
            raise ValueError(f"{name}: needs (unit, n, date) with a "
                             "literal unit")
        n = args[1] if low == "dateadd" else f"-({args[1]})"
        return f"timestampadd({m.group(1).upper()}, {n}, {args[2]})"
    if low in _RENAMES:
        tgt = _RENAMES[low]
        if tgt == "":
            return args[0]
        if tgt is not None:
            return f"{tgt}({', '.join(args)})"
    raise AssertionError(f"_fn_dispatch missed {name}")  # pragma: no cover


# addDays(d, n) family -> timestampadd(UNIT, ±n, d)
_ADD_UNITS = {
    f"{pre}{u}s": (u.upper(), 1 if pre == "add" else -1)
    for u in ("second", "minute", "hour", "day", "week", "month",
              "quarter", "year")
    for pre in ("add", "subtract")
}


_DISPATCH_RE = "|".join(
    sorted(
        {n for n in _RENAMES if _RENAMES[n] is not None}
        | set(_TRUNC) | set(_CASTS) | set(_IF_COMBINATORS)
        | {"uniqexact", "median", "arraystringconcat"}
        | set(_LAMBDA_ARRAY)
        | {"multiif", "if", "intdiv", "modulo", "arrayjoin", "empty",
           "range", "numbers",
           "notempty", "splitbychar", "match",
           "arraycount", "arrayfirst", "arraysum",
           "isnull", "isnotnull", "datediff", "formatdatetime",
           "jsonextractstring", "jsonextractint", "jsonextractfloat",
           "jsonextractraw",
           "arrayavg", "arrayenumerate", "arraypopback", "arraypopfront",
           "hasall", "hasany", "splitbystring", "splitbywhitespace",
           "bitand", "bitor", "bitxor", "bitnot",
           "bitshiftleft", "bitshiftright",
           "toyyyymm", "toyyyymmdd", "dateadd", "datesub"}
        | set(_ADD_UNITS),
        key=len, reverse=True,
    )
)

# constructs with NO 1:1 Spark SQL *string* equivalent — refuse at the
# translator, never mistranslate. Each names the route that covers the
# semantics: LIMIT n BY and ASOF JOIN are structural DataFrame routes in
# ch_sql(); SAMPLE and FINAL need the engine table, so ClickHouseSession
# routes them (the bare-string translator has no table to read).
_REFUSE = [
    (r"(?i)\bLIMIT\s+\d+\s+BY\b", "LIMIT n BY at the string level "
                                  "(ch_sql routes it as a window plan)"),
    (r"(?i)\bSAMPLE\s+[\d.]", "SAMPLE clause at the string level "
                              "(ClickHouseSession routes it through the "
                              "engine's SAMPLE BY read)"),
    (r"(?i)\bARRAY\s+JOIN\b", "ARRAY JOIN clause at the string level "
                              "(ch_sql routes it as the explode plan)"),
    (r"(?i)\bFINAL\b", "FINAL at the string level (ClickHouseSession "
                       "routes it — engine reads always collapse)"),
    (r"(?i)\bASOF\s+(LEFT\s+)?JOIN\b", "ASOF JOIN at the string level "
                                       "(ch_sql routes it as the union+"
                                       "window as-of plan)"),
    (r"(?i)\bWITH\s+FILL\b", "ORDER BY ... WITH FILL at the string level "
                             "(ch_sql routes it as an axis anti-join)"),
]


def _scan_profile(s: str) -> tuple[list[int], list[bool]]:
    """Per-index (paren depth, inside-string-literal) profile."""
    depth = [0] * (len(s) + 1)
    inq = [False] * (len(s) + 1)
    d, quote = 0, None
    for i, ch in enumerate(s):
        depth[i] = d
        inq[i] = quote is not None
        if quote:
            if ch == quote:
                quote = None
        elif ch == "'":
            quote = ch
        elif ch == "(":
            d += 1
        elif ch == ")":
            d -= 1
    depth[len(s)] = d
    return depth, inq


def _rewrite_with_totals(s: str) -> str:
    """GROUP BY <keys> WITH TOTALS -> GROUP BY GROUPING SETS ((<keys>), ())
    — exact: the per-group rows plus ONE grand-total row in the same
    shuffle (Expand + one hash aggregate). Spark marks the totals row
    with NULL group keys where ClickHouse renders default values; the
    grouping() function distinguishes a totals NULL from a data NULL.

    Scanner-based (ADVICE r8): each WITH TOTALS token is located outside
    string literals and paired with the nearest GROUP BY at the SAME
    paren depth inside the same scope — a plain regex rewrote matching
    text inside literals and spanned subquery boundaries. WITH TOTALS
    combined with a same-scope HAVING refuses: ClickHouse's default
    totals_mode=before_having always emits the totals row computed
    BEFORE the HAVING filter, which a GROUPING SETS rewrite cannot
    reproduce (the predicate would filter the totals row too).

    Documented deviation (found by the r9 route-x-state fuzz, seed 16):
    over an EMPTY input, Spark's GROUPING SETS yields no rows at all,
    where ClickHouse still emits its zero-aggregate totals block (and
    DuckDB the standard's one grand-total row). Reproducing the
    empty-set totals row at the string level would need select-list
    surgery (NULL-ing the key expressions into a HAVING count(*)=0
    union branch); pinned as a deviation instead —
    tests/test_chsql.py::test_with_totals_empty_input_deviation.
    """
    tot = re.compile(r"(?is)\bWITH\s+TOTALS\b")
    gb = re.compile(r"(?is)\bGROUP\s+BY\b")
    while True:
        depth, inq = _scan_profile(s)
        m = best = None
        for cand in tot.finditer(s):
            if inq[cand.start()]:
                continue
            dlev = depth[cand.start()]
            g_best = None
            for g in gb.finditer(s, 0, cand.start()):
                if inq[g.start()] or depth[g.start()] != dlev:
                    continue
                if min(depth[g.end(): cand.start()], default=dlev) < dlev:
                    continue  # different scope: depth dips below between
                g_best = g
            if g_best is None:
                # a CTE named `totals` matches the same token sequence
                # (`WITH totals AS (...)` — ADVICE r9): a match with no
                # same-scope GROUP BY before it that is immediately
                # followed by AS( is a definition, not the modifier —
                # leave it for Spark as an ordinary identifier
                if re.match(r"(?is)^AS\s*\(", s[cand.end():].lstrip()):
                    continue
                raise ValueError(
                    "WITH TOTALS without a GROUP BY in the same scope")
            m, best = cand, g_best
            break
        if m is None:
            return s
        dlev = depth[m.start()]
        end = next((i for i in range(m.end(), len(s))
                    if depth[i] < dlev), len(s))
        for h in re.finditer(r"(?is)\bHAVING\b", s, ):
            if (m.end() <= h.start() < end and not inq[h.start()]
                    and depth[h.start()] == dlev):
                raise ValueError(
                    "no 1:1 Spark translation for WITH TOTALS combined "
                    "with HAVING (ClickHouse totals_mode=before_having "
                    "keeps the totals row computed before the filter; a "
                    "GROUPING SETS rewrite would drop it) — apply the "
                    "HAVING in an outer query")
        keys = s[best.end(): m.start()].strip()
        if not keys:
            raise ValueError("WITH TOTALS with an empty GROUP BY key list")
        s = (s[: best.start()]
             + f"GROUP BY GROUPING SETS (({keys}), ())" + s[m.end():])


def translate_select(sql: str) -> str:
    """ClickHouse-dialect SELECT -> Spark SQL string (see module doc)."""
    s = sql.strip().rstrip(";").strip()
    s = _rewrite_with_totals(s)
    for pat, what in _REFUSE:
        if re.search(pat, s):
            raise ValueError(f"no 1:1 Spark translation for {what}")
    # statement suffixes: FORMAT <name> / SETTINGS k=v[, ...] at the end
    s = re.sub(r"(?is)\s+FORMAT\s+\w+\s*$", "", s)
    s = re.sub(r"(?is)\s+SETTINGS\s+[\w]+\s*=\s*[^,]+(?:\s*,\s*[\w]+\s*=\s*[^,]+)*\s*$", "", s)
    # PREWHERE is an optimizer hint in CH; Spark's pushdown makes WHERE
    # equivalent. PREWHERE+WHERE both present -> AND them.
    if re.search(r"(?i)\bPREWHERE\b", s):
        if re.search(r"(?i)\bWHERE\b", s):
            # PREWHERE a WHERE b  ->  WHERE (a) AND (b)
            m = re.search(
                r"(?is)\bPREWHERE\b(.*?)\bWHERE\b(.*?)"
                r"(\bGROUP\s+BY\b|\bORDER\s+BY\b|\bLIMIT\b|$)", s)
            if not m:
                raise ValueError("unsupported PREWHERE placement")
            s = (s[: m.start()] + f"WHERE ({m.group(1).strip()}) AND "
                 f"({m.group(2).strip()}) " + m.group(3) + s[m.end():])
        else:
            s = re.sub(r"(?i)\bPREWHERE\b", "WHERE", s)
    s = re.sub(r"(?i)\bGLOBAL\s+(IN|JOIN)\b", r"\1", s)
    return _translate_expr(s)


def _translate_expr(s: str) -> str:
    # parameterized aggregates first: quantile[Exact](p)(x),
    # quantiles(p1,...)(x), topK(n)(x) — the (params)(args) call shape.
    s = _rewrite_parameterized(s)
    s = _rewrite_calls(s, _DISPATCH_RE, _fn_dispatch)
    # zero-arg renames (no parens to match)
    s = re.sub(r"(?i)\bcount\(\s*\)", "count(*)", s)
    s = re.sub(r"(?i)\bnow64?\(\)", "current_timestamp()", s)
    s = re.sub(r"(?i)\btoday\(\)", "current_date()", s)
    s = re.sub(r"(?i)\byesterday\(\)", "date_sub(current_date(), 1)", s)
    return s


def _rewrite_parameterized(s: str) -> str:
    pat = r"quantileexact|quantiles|quantile|topkweighted|topk"
    pos = 0
    while True:
        hit = _find_call(s, pat, pos)
        if hit is None:
            return s
        name_start, open_idx = hit
        close_idx = _match_paren(s, open_idx)
        after = close_idx + 1
        while after < len(s) and s[after].isspace():
            after += 1
        if after >= len(s) or s[after] != "(":
            pos = close_idx  # bare call, not (params)(args) — skip
            continue
        args_close = _match_paren(s, after)
        name = s[name_start:open_idx].strip().lower()
        params = [_translate_expr(a)
                  for a in _split_args(s[open_idx + 1: close_idx])]
        args = [_translate_expr(a)
                for a in _split_args(s[after + 1: args_close])]
        if name in ("quantile", "quantileexact"):
            repl = f"percentile({args[0]}, {params[0]})"
        elif name == "quantiles":
            repl = f"percentile({args[0]}, array({', '.join(params)}))"
        elif name == "topk":
            raise ValueError(
                "topK(n)(x) has no exact single-expression Spark form — "
                "use q_topk's groupBy + rank pattern")
        elif name == "topkweighted":
            raise ValueError(
                "topKWeighted has no single-expression Spark form — "
                "use q_topk_weighted")
        else:  # pragma: no cover
            raise AssertionError(name)
        s = s[:name_start] + repl + s[args_close + 1:]
        pos = name_start + len(repl)


_STAR_MOD_GATE = re.compile(
    r"(?is)\bAPPLY\s*\(|\*\s*REPLACE\s*\(|\bCOLUMNS\s*\(\s*'"
    # CH-valid forms Spark's parser rejects: paren-less `* EXCEPT col`
    # and chained `* EXCEPT(a) EXCEPT(b)` (Spark takes ONE EXCEPT list);
    # both normalize to a single native `* EXCEPT (...)` below. A single
    # parenthesized EXCEPT stays out of the gate — it is native Spark 4
    # and must keep passing through untouched (works inside CTEs too).
    # \b stops identifiers that merely START with 'except' (e.g.
    # `* exceptions`), and the lookahead must swallow the whitespace
    # ITSELF ((?!\s*\()) — with a bare (?!\() the engine backtracks
    # `\s*` one step and matches `* EXCEPT (col)` WITH a space, which is
    # native Spark and must not trip the gate (r11 review find).
    r"|\*\s*EXCEPT\b(?!\s*\()"
    r"|\*\s*EXCEPT\s*\([^()]*\)\s*EXCEPT\b")


def _normalize_except_chain(s: str) -> str:
    """Schema-free textual rewrite of EXCEPT-only star-modifier chains
    into the single parenthesized form Spark 4 parses natively:
    ``* EXCEPT col`` → ``* EXCEPT (col)`` and chained
    ``* EXCEPT (a) EXCEPT (b) [EXCEPT c]`` → ``* EXCEPT (a, b, c)``.
    Dropping columns from ``*`` needs no FROM-schema, so this works
    anywhere in the statement — including inside CTE text, where the
    full (schema-needing) rewriter refuses (r11 review find). A
    set-operation ``EXCEPT [ALL|DISTINCT] SELECT`` never follows a bare
    ``*`` in valid SQL, but the keyword guard stops the chain scan on
    one anyway."""
    out, i = [], 0
    star = re.compile(r"\*\s*EXCEPT\b", re.I)
    while True:
        m = star.search(s, i)
        if not m:
            out.append(s[i:])
            return "".join(out)
        out.append(s[i:m.start() + 1])  # keep the '*'
        j, cols = m.start() + 1, []
        while True:
            km = re.match(r"(?is)^\s*EXCEPT\s*\(", s[j:])
            if km:
                open_idx = j + km.end() - 1
                close = _match_paren(s, open_idx)
                inner = s[open_idx + 1:close]
                if "(" in inner:
                    return s  # unexpected nesting — leave untouched
                cols += [c.strip() for c in inner.split(",") if c.strip()]
                j = close + 1
                continue
            pm = re.match(r"(?is)^\s*EXCEPT\s+(`[^`]+`|\w+)", s[j:])
            if pm and pm.group(1).upper() not in (
                    "SELECT", "ALL", "DISTINCT"):
                cols.append(pm.group(1))
                j += pm.end()
                continue
            break
        if cols:
            out.append(f" EXCEPT ({', '.join(cols)})")
        else:
            out.append(s[m.start() + 1:j])
        i = j


def _rewrite_star_modifiers(spark: SparkSession, s: str) -> str:
    """Expand ClickHouse star modifiers — ``* [EXCEPT(..)] [REPLACE(..)]
    [APPLY(f)...]`` and ``COLUMNS('re') [APPLY(f)...]`` — into explicit
    column lists (CH expands them the same way during analysis;
    ``* EXCEPT`` alone is native Spark 4 syntax and passes through).
    EXCEPT-only chains (paren-less / chained) normalize textually first
    — no schema needed, so they work inside CTEs too. Everything else
    needs the FROM relation's schema, so only a single named table/view
    at the top level is supported; anything else refuses loudly. APPLY
    chains compose left-to-right (CH order) and alias as ``f2_f1_col``.
    The rewritten list stays in CH dialect — the normal translate
    pipeline still maps function names afterward."""
    if not _STAR_MOD_GATE.search(s):
        return s
    s = _normalize_except_chain(s)
    if not _STAR_MOD_GATE.search(s):
        return s  # EXCEPT-only: now native Spark 4, works in CTEs too
    if not re.match(r"(?is)^SELECT\s", s):
        raise ValueError(
            "star modifiers (APPLY / * REPLACE / COLUMNS) are only "
            "supported in a top-level SELECT, not inside WITH/CTE text")
    body = s[len("SELECT"):]
    distinct = ""
    dm = re.match(r"(?is)^\s*DISTINCT\b", body)
    if dm:
        distinct, body = " DISTINCT", body[dm.end():]
    parts = _split_top(body, r"(?i)\bFROM\b")
    if len(parts) < 2:
        raise ValueError("star modifiers need a FROM clause to expand")
    select_list, remainder = parts[0], " FROM ".join(parts[1:])

    def base_columns() -> list[str]:
        m = re.match(r"\s*([`\w.]+)", remainder)
        if not m or remainder.lstrip().startswith("("):
            raise ValueError(
                "star-modifier expansion needs a single named table in "
                "FROM (subqueries/joins: expand the columns by hand)")
        if len(_split_top(remainder, r"(?i)\bJOIN\b")) > 1:
            raise ValueError(
                "star-modifier expansion over a JOIN is not supported — "
                "list the columns explicitly")
        name = m.group(1).strip("`").split(".")[-1]
        return spark.table(name).columns

    def resolve(cols: list[str], item: str) -> str:
        bare = item.strip().strip("`")
        hits = [c for c in cols if c == bare] or [
            c for c in cols if c.lower() == bare.lower()]
        if not hits:
            raise ValueError(f"unknown column {bare!r} in star modifier "
                             f"(columns: {cols})")
        return hits[0]

    out_items = []
    for item in _split_top(select_list, r","):
        m = re.match(r"(?is)^(\*|COLUMNS\s*\(\s*'([^']*)'\s*\))\s*(.*)$",
                     item)
        if not m or (m.group(1) == "*" and not m.group(3)):
            out_items.append(item)
            continue
        mods, rest = [], m.group(3)
        while rest:
            km = re.match(r"(?is)^(EXCEPT|REPLACE|APPLY)\s*\(", rest)
            if not km:
                # CH also allows the paren-less single-column form
                # `* EXCEPT col` — normalize it into the same modifier
                pm = re.match(r"(?is)^EXCEPT\s+(`?\w+`?)\s*", rest)
                if pm:
                    mods.append(("EXCEPT", pm.group(1)))
                    rest = rest[pm.end():].lstrip()
                    continue
                break
            close = _match_paren(rest, km.end() - 1)
            mods.append((km.group(1).upper(),
                         rest[km.end(): close].strip()))
            rest = rest[close + 1:].lstrip()
        if rest:
            raise ValueError(f"unparsable star-modifier tail {rest!r}")
        if m.group(1) == "*" and all(k == "EXCEPT" for k, _ in mods):
            # EXCEPT-only needs no schema: collapse every list (chained
            # `EXCEPT(a) EXCEPT(b)` and the paren-less form included)
            # into the ONE parenthesized list Spark's native `* EXCEPT`
            # accepts — so it still works over joins and subqueries
            # where base_columns() would refuse.
            drops = [c.strip() for _, inner in mods
                     for c in _split_top(inner, r",")]
            out_items.append("* EXCEPT (" + ", ".join(drops) + ")")
            continue
        cols = base_columns()
        if m.group(2) is not None:  # COLUMNS('re'): RE2-search semantics
            pat = re.compile(m.group(2))
            cols = [c for c in cols if pat.search(c)]
            if not cols:
                raise ValueError(
                    f"COLUMNS('{m.group(2)}') matched no columns")
        replaced: dict[str, str] = {}
        applies: list[str] = []
        for kind, inner in mods:
            if kind == "EXCEPT":
                drop = {resolve(cols, c) for c in _split_top(inner, r",")}
                cols = [c for c in cols if c not in drop]
            elif kind == "REPLACE":
                for spec in _split_top(inner, r","):
                    rm = re.match(r"(?is)^(.*)\s+AS\s+([`\w]+)\s*$", spec)
                    if not rm:
                        raise ValueError(
                            f"REPLACE item {spec!r} is not 'expr AS col'")
                    replaced[resolve(cols, rm.group(2))] = rm.group(1).strip()
            else:  # APPLY
                if not re.match(r"(?is)^[\w]+$", inner):
                    raise ValueError(
                        f"APPLY({inner!r}): only a bare function name is "
                        "supported")
                applies.append(inner)
        for c in cols:
            expr = replaced.get(c, f"`{c}`")
            if applies:
                for f in applies:
                    expr = f"{f}({expr})"
                alias = "_".join([*reversed(applies), c])
                out_items.append(f"{expr} AS `{alias}`")
            elif c in replaced:
                out_items.append(f"{expr} AS `{c}`")
            else:
                out_items.append(f"`{c}`")
    return f"SELECT{distinct} " + ", ".join(out_items) + " FROM " + remainder


def ch_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Run a ClickHouse-dialect SELECT against the session's registered
    views. Two constructs have no Spark SQL *string* form and are routed
    as DataFrame plans (semantics from their dedicated operators):

    - ``LIMIT n BY exprs`` -> q_limit_by's row_number window + filter
      (one shuffle on the BY key, rank-limit pruned per partition);
    - ``ASOF [LEFT] JOIN`` -> q_join_asof's union+window as-of plan
      (one shuffle on the equality key, linear within partition — never
      a per-row range join).

    Everything else is one-string translation, then ``spark.sql`` —
    Catalyst sees plain Spark SQL and optimizes it like any hand-written
    query."""
    s = sql.strip().rstrip(";").strip()
    # star modifiers first: the expansion leaves plain CH dialect for
    # every later route to see (no other route understands APPLY etc.)
    s = _rewrite_star_modifiers(spark, s)
    # ASOF first: it flattens the two-table namespace and rewrites the
    # a./b. qualifiers across the WHOLE remaining statement, so a LIMIT
    # BY / WITH FILL tail re-enters ch_sql with resolvable names
    if re.search(r"(?i)\bASOF\s+(LEFT\s+)?JOIN\b", s):
        return _run_asof_join(spark, s)
    sub = _route_subqueries(spark, s)
    if sub is not None:
        return sub
    aj = _find_top(s, _ARRAY_JOIN_RE)
    if aj is not None:
        return _run_array_join(spark, s, aj)
    lb = _parse_limit_by(s)
    if lb is not None:
        return _run_limit_by(spark, *lb)
    if re.search(r"(?i)\bWITH\s+FILL\b", s):
        return _run_with_fill(spark, s)
    if _find_call(s, r"topkweighted|topk") is not None:
        return _run_topk(spark, s)
    return spark.sql(translate_select(s))


# ---------------------------------------------------------------------------
# structural routes: constructs that become DataFrame plans, not strings
# ---------------------------------------------------------------------------


def _split_top(s: str, sep_re: str) -> list[str]:
    """Split on a regex separator at paren/quote depth 0."""
    parts, depth, quote, last = [], 0, None, 0
    pat = re.compile(sep_re)
    i = 0
    while i < len(s):
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch == "'":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = pat.match(s, i)
            if m:
                parts.append(s[last:i])
                last = i = m.end()
                continue
        i += 1
    parts.append(s[last:])
    return [p.strip() for p in parts if p.strip()]


# ---------------------------------------------------------------------------
# Enum read path (E132/E190 follow-through; VERDICT r11 item 5): ClickHouse
# orders Enum columns by their declared NUMERIC value, while the engine
# stores Enum as String labels (engine/ddl.py persists the declared
# label→value map in table_meta["enum_values"]). When the label order
# diverges from lexical order — e.g. Enum8('low' = 3, 'high' = 1) — a plain
# ORDER BY / min / max over the stored strings would silently return
# CH-wrong results. SELECTs routed through ClickHouseSession therefore
# translate those through the mapping with a CASE projection: row-local at
# the scan, no join, no shuffle, nothing at scale. Order-sensitive usages
# the rewrite cannot prove safe (<, >, BETWEEN over the enum; the enum
# buried inside a compound ORDER BY expression) refuse loudly instead of
# answering wrong. Lexical-consistent mappings need no rewrite at all.
# ---------------------------------------------------------------------------

def enum_is_lexical(mapping: dict[str, int]) -> bool:
    """True when sorting labels as strings equals sorting by declared
    value — the stored-string ORDER BY is already CH-correct."""
    labels = list(mapping)
    return sorted(labels) == sorted(labels, key=lambda l: (mapping[l], l))


def enum_value_case(col: str, mapping: dict[str, int]) -> str:
    """The label→value CASE projection used as a sort / argmin key."""
    whens = " ".join(f"WHEN '{l}' THEN {v}" for l, v in mapping.items())
    return f"(CASE `{col}` {whens} END)"


_ENUM_ORDER_TERM = re.compile(
    r"(?is)(?:LIMIT|OFFSET|FETCH|SETTINGS|UNION|INTERSECT|EXCEPT|"
    r"WINDOW|FORMAT|INTO)\b")


def _order_by_spans(s: str) -> list[tuple[int, int]]:
    """(start, end) spans of every ORDER BY item list in the statement —
    window-function ORDER BYs included; paren/quote aware."""
    spans = []
    for m in re.finditer(r"(?is)\bORDER\s+BY\b", s):
        i, depth, quote = m.end(), 0, None
        while i < len(s):
            ch = s[i]
            if quote:
                quote = None if ch == quote else quote
            elif ch == "'":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            elif (depth == 0 and ch.isalpha()
                    and not re.match(r"\w", s[i - 1])
                    and _ENUM_ORDER_TERM.match(s, i)):
                break
            i += 1
        spans.append((m.end(), i))
    return spans


def rewrite_enum_order(s: str, enum_maps: dict[str, dict[str, int]]) -> str:
    """Translate order-sensitive reads of non-lexical Enum columns
    through their declared numeric mapping (module doc above): bare
    ORDER BY items and min()/max() calls rewrite to the CASE key /
    min_by/max_by; provably-unsafe shapes refuse loudly."""
    live = {c: m for c, m in enum_maps.items() if not enum_is_lexical(m)}
    if not live:
        return s
    cmp_re = r"(?:<=|>=|<(?![>=])|(?<!<)>(?!=))"
    for col, mapping in live.items():
        col_re = rf"(?:`{col}`|\b{col}\b)"
        if (re.search(rf"(?is){col_re}\s*{cmp_re}", s)
                or re.search(rf"(?is){cmp_re}\s*{col_re}", s)
                or re.search(rf"(?is){col_re}\s+(?:NOT\s+)?BETWEEN\b", s)):
            raise ValueError(
                f"Enum column {col!r} has a non-lexical label order "
                f"{mapping} — range comparisons over the stored labels "
                f"would not match ClickHouse; compare through "
                f"{enum_value_case(col, mapping)} explicitly")
    # ORDER BY items first (on the original text), then the global
    # min/max rewrite — so injected CASE/min_by text is never rescanned
    for start, end in reversed(_order_by_spans(s)):
        clause = s[start:end]
        if not any(re.search(rf"(?is)(?:`{c}`|\b{c}\b)", clause)
                   for c in live):
            continue
        items = _split_top(clause, r",")
        new_items = []
        for item in items:
            hit = None
            for col in live:
                if re.search(rf"(?is)(?:`{col}`|\b{col}\b)",
                             re.sub(r"'[^']*'", "''", item)):
                    hit = col
                    break
            if hit is None:
                new_items.append(item)
                continue
            case = enum_value_case(hit, live[hit])
            tail_re = (r"(\s+(?:ASC|DESC))?(\s+NULLS\s+"
                       r"(?:FIRST|LAST))?\s*$")
            m = re.match(rf"(?is)^`?{hit}`?{tail_re}", item)
            if m:
                new_items.append(case + (m.group(1) or "")
                                 + (m.group(2) or ""))
                continue
            m = re.match(
                rf"(?is)^(min|max)\s*\(\s*`?{hit}`?\s*\){tail_re}", item)
            if m:
                new_items.append(
                    f"{m.group(1).lower()}_by(`{hit}`, {case})"
                    + (m.group(2) or "") + (m.group(3) or ""))
                continue
            raise ValueError(
                f"Enum column {hit!r} has a non-lexical label order — "
                f"ORDER BY item {item!r} is too complex to translate; "
                f"order by {enum_value_case(hit, live[hit])} explicitly")
        s = s[:start] + " " + ", ".join(new_items) + " " + s[end:]
    for col, mapping in live.items():
        case = enum_value_case(col, mapping)
        s = re.sub(rf"(?is)\bmin\s*\(\s*`?{col}`?\s*\)",
                   f"min_by(`{col}`, {case})", s)
        s = re.sub(rf"(?is)\bmax\s*\(\s*`?{col}`?\s*\)",
                   f"max_by(`{col}`, {case})", s)
    return s


def _order_pairs(order_text: str) -> list[tuple[str, bool]]:
    """``a DESC, b`` -> [(translated_expr, is_desc)]."""
    pairs = []
    for part in _split_top(order_text, r","):
        if re.search(r"(?i)\bNULLS\s+(FIRST|LAST)\b", part):
            raise ValueError(
                "NULLS FIRST/LAST inside a routed ORDER BY is not "
                "supported — rewrite without it")
        m = re.match(r"(?is)^(.*?)(?:\s+(ASC|DESC))?$", part.strip())
        pairs.append((_translate_expr(m.group(1).strip()),
                      (m.group(2) or "ASC").upper() == "DESC"))
    return pairs


def _extend_select(sql: str, exprs: list[str]) -> tuple[str, list[str]]:
    """Append ``exprs`` to the OUTER select list under generated aliases
    (for ORDER BY / LIMIT BY expressions that reference source columns
    the query doesn't project — legal in ClickHouse). Refuses under
    top-level DISTINCT, where extending the list would change the
    result (ClickHouse refuses the same shape)."""
    if re.match(r"(?is)^\s*SELECT\s+DISTINCT\b", sql):
        raise ValueError(
            "ORDER BY on a non-projected column cannot combine with "
            "DISTINCT (extending the select list would change it)")
    m = re.match(r"(?is)^\s*SELECT\s+", sql)
    if not m:
        raise ValueError("cannot extend a non-SELECT query")
    # first top-level FROM ends the select list
    depth, quote, from_idx = 0, None, None
    i = m.end()
    while i < len(sql):
        ch = sql[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch == "'":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and sql[i:i + 4].upper() == "FROM" and \
                re.match(r"(?is)\bFROM\b", sql[i:i + 5]):
            from_idx = i
            break
        i += 1
    if from_idx is None:
        raise ValueError("cannot locate the outer FROM clause")
    aliases = [f"__ch_ob{k}" for k in range(len(exprs))]
    extra = "".join(f", {e} AS {a}" for e, a in zip(exprs, aliases))
    return sql[:from_idx] + extra + " " + sql[from_idx:], aliases


def _parse_limit_by(s: str):
    """Detect a top-level ``[ORDER BY o] LIMIT n BY exprs [LIMIT m]``
    tail; return (base_sql, order_text, n, by_text, outer_limit) or
    None. Only the OUTER query's tail is considered: a match inside a
    parenthesized subquery (non-zero paren depth at the match) is
    ignored."""
    best = None
    for m in re.finditer(r"(?i)\bLIMIT\s+(\d+)\s+BY\b", s):
        prefix = s[: m.start()]
        if prefix.count("(") == prefix.count(")") and \
                prefix.count("'") % 2 == 0:
            best = m
    if best is None:
        return None
    n = int(best.group(1))
    tail = s[best.end():]
    outer = None
    lm = re.search(r"(?is)\s+LIMIT\s+(\d+)\s*$", tail)
    if lm:
        outer = int(lm.group(1))
        tail = tail[: lm.start()]
    by_text = tail.strip()
    before = s[: best.start()].rstrip()
    order_text = None
    for om in re.finditer(r"(?i)\bORDER\s+BY\b", before):
        prefix = before[: om.start()]
        if prefix.count("(") == prefix.count(")") and \
                prefix.count("'") % 2 == 0:
            order_text = before[om.end():].strip()
            before = before[: om.start()].rstrip()
            break
    return before, order_text, n, by_text, outer


def _run_limit_by(spark, base, order_text, n, by_text, outer):
    """``LIMIT n BY`` as the q_limit_by plan: rank per BY-group with a
    row_number window ordered by the query's ORDER BY (falling back to
    the BY exprs themselves when none — same unspecified-order contract
    as ClickHouse), keep rank <= n, re-apply the outer ORDER BY/LIMIT.
    One shuffle on the BY key; the window's rank-limit prunes inside
    each partition, so group size never exceeds memory at 100 TB.

    ORDER BY / BY expressions may reference source columns the query
    does not project (legal in ClickHouse): on an unresolved-column
    analysis error the base select list is extended with the offending
    expressions under generated aliases, which are dropped again after
    ranking and ordering."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    by_exprs = [_translate_expr(b) for b in _split_top(by_text, r",")]
    pairs = (_order_pairs(order_text) if order_text
             else [(b, False) for b in by_exprs])
    extra: list[str] = []

    def build(base_df, by_list, order_list):
        w = Window.partitionBy(
            *[F.expr(b) for b in by_list]).orderBy(
            *[F.expr(e).desc() if d else F.expr(e).asc()
              for e, d in order_list])
        rn = "__ch_limit_by_rn"
        out = (base_df.withColumn(rn, F.row_number().over(w))
               .filter(F.col(rn) <= n).drop(rn))
        if order_text:
            out = out.orderBy(
                *[F.expr(e).desc() if d else F.expr(e).asc()
                  for e, d in order_list])
        out.schema  # force analysis so unresolved columns surface HERE
        return out

    # the base may itself hold another routed construct (ASOF JOIN,
    # WITH TOTALS, WITH FILL) — recurse through ch_sql, not the bare
    # translator
    base_df = ch_sql(spark, base)
    try:
        out = build(base_df, by_exprs, pairs)
    except AnalysisException:
        # extend the projection with every ORDER BY/BY expression, rank
        # against the aliases, then drop them (projection after sort
        # keeps the order). String surgery needs a plain translatable
        # base; a non-translatable one fails loudly here.
        exprs = [e for e, _d in pairs] + by_exprs
        ext_sql, aliases = _extend_select(translate_select(base), exprs)
        o_alias = aliases[: len(pairs)]
        b_alias = aliases[len(pairs):]
        ext_df = spark.sql(ext_sql)
        out = build(ext_df,
                    b_alias,
                    [(a, d) for a, (_e, d) in zip(o_alias, pairs)])
        extra = aliases
    if extra:
        out = out.drop(*extra)
    if outer is not None:
        out = out.limit(outer)
    return out


_ASOF_FROM = re.compile(
    r"(?is)\bFROM\s+([A-Za-z_]\w*)"
    r"(?:\s+(?:AS\s+)?(?!ASOF\b|LEFT\b|INNER\b|JOIN\b)([A-Za-z_]\w*))?"
    r"\s+ASOF\s+(LEFT\s+)?JOIN\s+([A-Za-z_]\w*)"
    r"(?:\s+(?:AS\s+)?(?!ON\b)([A-Za-z_]\w*))?"
    r"\s+ON\s+(.*?)"
    r"(?=\s+(?:WHERE|GROUP\s+BY|ORDER\s+BY|LIMIT|HAVING)\b|\s*$)")


def _run_asof_join(spark, s: str):
    """``A ASOF [LEFT] JOIN B ON A.k = B.k AND A.t >= B.t`` routed as
    the q_join_asof union+window plan: tag both inputs, union on the
    equality key, one window pass picks each probe row's nearest match
    (``last(match, ignorenulls)`` over a (ts, side)-ordered preceding
    frame). ONE shuffle on the equality key, linear within partition —
    the per-row range join a naive translation would emit is never
    planned. Inequality direction (>=, >, <=, <) selects backward/
    forward and inclusive/strict; the remaining SELECT runs over the
    joined relation with qualifiers rewritten (right-side columns that
    collide with left names get a ``_r`` suffix, exactly how ClickHouse
    clients disambiguate with b.name)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    m = _ASOF_FROM.search(s)
    if not m:
        raise ValueError(
            "unsupported ASOF JOIN shape — need FROM <t> [a] ASOF [LEFT] "
            "JOIN <t2> [b] ON <equalities AND one inequality>")
    ltab, la, left_kw, rtab, ra, on_text = m.groups()
    la, ra = la or ltab, ra or rtab
    how = "left" if left_kw else "inner"

    eq: list[tuple[str, str]] = []
    ineq = None
    for cond in _split_top(on_text, r"(?i)\bAND\b"):
        cm = re.match(
            r"(?is)^\(?\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*"
            r"(>=|<=|=|>|<)\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*\)?$", cond)
        if not cm:
            raise ValueError(f"unsupported ASOF JOIN condition {cond!r}")
        q1, c1, op, q2, c2 = cm.groups()
        if q1 == la and q2 == ra:
            lcol, rcol = c1, c2
        elif q1 == ra and q2 == la:
            lcol, rcol = c2, c1
            op = {">": "<", "<": ">", ">=": "<=", "<=": ">="}.get(op, op)
        else:
            raise ValueError(
                f"ASOF JOIN condition {cond!r} must compare "
                f"{la!r} against {ra!r}")
        if op == "=":
            eq.append((lcol, rcol))
        elif ineq is not None:
            raise ValueError("ASOF JOIN needs exactly ONE inequality")
        else:
            ineq = (lcol, op, rcol)
    if not eq or ineq is None:
        raise ValueError("ASOF JOIN needs >=1 equality and exactly one "
                         "inequality condition")
    lts, op, rts = ineq
    strict = op in (">", "<")
    forward = op in ("<", "<=")

    left, right = spark.table(ltab), spark.table(rtab)
    # collision-safe right-column names for the flattened output
    taken = set(left.columns)
    ren: dict[str, str] = {}
    for c in right.columns:
        name = c
        while name in taken:
            name += "_r"
        ren[c] = name
        taken.add(name)

    rstruct = F.struct(*[F.col(c).alias(ren[c]) for c in right.columns])
    rtype = right.select(rstruct.alias("s")).schema["s"].dataType
    lstruct = F.struct(*left.columns)
    ltype = left.select(lstruct.alias("s")).schema["s"].dataType
    keys = [f"__k{i}" for i in range(len(eq))]
    # strict: probe rows order BEFORE same-ts matches (can't see them);
    # inclusive: matches first, so an equal-ts match is visible.
    l_ord, r_ord = (0, 1) if strict else (1, 0)
    lpart = left.select(
        *[F.col(lc).alias(k) for k, (lc, _) in zip(keys, eq)],
        F.col(lts).alias("__ts"), F.lit(1).alias("__is_l"),
        F.lit(l_ord).alias("__ord"),
        lstruct.alias("__l"), F.lit(None).cast(rtype).alias("__r"))
    rpart = right.select(
        *[F.col(rc).alias(k) for k, (_, rc) in zip(keys, eq)],
        F.col(rts).alias("__ts"), F.lit(0).alias("__is_l"),
        F.lit(r_ord).alias("__ord"),
        F.lit(None).cast(ltype).alias("__l"), rstruct.alias("__r"))
    u = lpart.unionByName(rpart)
    ts_item = F.col("__ts").desc() if forward else F.col("__ts").asc()
    w = (Window.partitionBy(*keys).orderBy(ts_item, F.col("__ord").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    u = u.withColumn("__m", F.last("__r", ignorenulls=True).over(w))
    probes = u.filter(F.col("__is_l") == 1)
    if how == "inner":
        probes = probes.filter(F.col("__m").isNotNull())
    # flatten both sides (a null match struct -> null fields, = LEFT join)
    joined = probes.select(
        F.col("__l.*"),
        *[F.col("__m").getField(ren[c]).alias(ren[c])
          for c in right.columns])

    view = "__ch_asof_routed"
    joined.createOrReplaceTempView(view)
    rest = s[: m.start()] + f" FROM {view}" + s[m.end():]
    for al in {la, ltab}:
        rest = re.sub(rf"(?i)\b{re.escape(al)}\.([A-Za-z_]\w*)",
                      r"\1", rest)
    for al in {ra, rtab}:
        rest = re.sub(rf"(?i)\b{re.escape(al)}\.([A-Za-z_]\w*)",
                      lambda mm: ren.get(mm.group(1), mm.group(1)), rest)
    return ch_sql(spark, rest)


def _dict_type_default(dtype: str) -> str | None:
    """ClickHouse's implicit attribute default for a missed dictGet key,
    as a Spark SQL literal: '' for String, 0 for numerics, epoch for
    date/time, false for booleans. None -> no known default (the lookup
    stays NULL-on-miss)."""
    t = dtype.lower()
    if t == "string":
        return "''"
    # exact-word numeric match: a bare startswith("int") also matched
    # Spark "interval ..." dtypes, producing CAST(0 AS INTERVAL ...)
    # (ADVICE r9)
    if re.match(r"^(tinyint|smallint|int|bigint|float|double|decimal)"
                r"(\(|$)", t):
        return f"CAST(0 AS {dtype})"
    if t == "boolean":
        return "false"
    if t == "date":
        return "DATE '1970-01-01'"
    if t.startswith("timestamp"):
        return "TIMESTAMP '1970-01-01 00:00:00'"
    return None


def rewrite_dict_calls(s: str, dicts: dict[str, str],
                       types: dict[str, dict[str, str]] | None = None) -> str:
    """``dictGet('d', 'attr', key)`` / ``dictGetOrDefault(..., def)`` /
    ``dictHas('d', key)`` -> correlated scalar subqueries / IN-subqueries
    over the dictionary's registered view. Catalyst decorrelates an
    equality-correlated scalar subquery into a left outer join and
    broadcasts the dictionary side when small — exactly the
    dictionaries.py lookup shape, with zero per-row Python. ``dicts``
    maps dictionary name -> its PRIMARY KEY column. Unique keys are the
    dictionary contract; a duplicated key fails loudly at run time
    (Spark's scalar-subquery cardinality check), never silently picks.

    ``types`` (optional) maps dictionary name -> {attr: Spark dtype}:
    when given, a missed ``dictGet`` key returns the attribute TYPE's
    default ('' / 0 / epoch — ClickHouse semantics, ADVICE r8) via
    coalesce; without it the lookup is NULL-on-miss (the documented
    bare-translator deviation — it has no schema to consult).

    Documented deviation (ADVICE r9): the coalesce cannot distinguish a
    MISSED key from an existing key whose Nullable attribute stores
    NULL — both map to the type default, where ClickHouse ``dictGet``
    over a ``Nullable(T)`` attribute returns the stored NULL. Dictionary
    attributes are conventionally non-Nullable (CH itself requires
    ``dictGetOrNull`` for that shape); callers with Nullable attributes
    should omit ``types`` for the NULL-on-miss behavior instead."""
    pat = "dictgetordefault|dictget|dicthas"
    pos = 0
    while True:
        hit = _find_call(s, pat, pos)
        if hit is None:
            return s
        name_start, open_idx = hit
        close_idx = _match_paren(s, open_idx)
        fn = s[name_start:open_idx].strip().lower()
        args = _split_args(s[open_idx + 1: close_idx])
        dm = re.fullmatch(r"'(\w+)'", args[0]) if args else None
        if not dm or dm.group(1) not in dicts:
            raise ValueError(
                f"{fn}: first argument must be a literal registered "
                f"dictionary name (have: {sorted(dicts)})")
        dname = dm.group(1)
        key_col = dicts[dname]
        # the dictionary side projects ONLY collision-proof aliases, so
        # an outer column sharing the dictionary key/attr NAME cannot be
        # captured by the inner scope (a silently-wrong bind: the
        # correlation would compare the dictionary to itself and match
        # every row — caught by the runbook example, pinned in tests)
        if fn == "dicthas":
            if len(args) != 2:
                raise ValueError("dictHas takes (dict, key)")
            repl = (f"(({args[1]}) IN (SELECT {key_col} AS __ch_dk "
                    f"FROM {dname}))")
        else:
            am = re.fullmatch(r"'(\w+)'", args[1]) if len(args) > 1 else None
            if not am:
                raise ValueError(
                    f"{fn}: attribute must be a literal column name")
            attr = am.group(1)
            lookup = (f"(SELECT __ch_da FROM (SELECT {key_col} AS __ch_dk, "
                      f"{attr} AS __ch_da FROM {dname}) "
                      f"WHERE __ch_dk = ({{key}}))")
            if fn == "dictget":
                if len(args) != 3:
                    raise ValueError("dictGet takes (dict, attr, key)")
                repl = lookup.format(key=args[2])
                tdef = _dict_type_default(
                    (types or {}).get(dname, {}).get(attr, ""))
                if tdef is not None:
                    repl = f"coalesce({repl}, {tdef})"
            else:
                if len(args) != 4:
                    raise ValueError(
                        "dictGetOrDefault takes (dict, attr, key, default)")
                repl = f"coalesce({lookup.format(key=args[2])}, {args[3]})"
        s = s[:name_start] + repl + s[close_idx + 1:]
        pos = name_start + len(repl)


_TOPK_SHAPE = re.compile(
    r"(?is)^\s*SELECT\s+(.*?)\s+FROM\s+([A-Za-z_]\w*)"
    r"(?:\s+WHERE\s+(.*?))?(?:\s+GROUP\s+BY\s+(.*?))?\s*$")


def _run_topk(spark, s: str):
    """``SELECT [keys,] topK(n)(x) AS a FROM t [WHERE ...] [GROUP BY
    keys]`` routed as the q_topk plan: per-(keys, x) count aggregate,
    rank window per keys (count DESC, value ASC — a pinned determinstic
    tie-break where ClickHouse's sketch is approximate), keep rank <= n,
    collect per group in rank order. Two narrow shuffles (the count agg
    and the |keys|-row collect) — never a per-group sort of raw rows.
    topKWeighted(n)(x, w) sums w instead of counting. Exact by
    construction (CH's topK is an approximate space-saving sketch; the
    exact answer is a valid refinement). Constrained shape: one topK,
    other select items must be GROUP BY keys — anything else refuses."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    m = _TOPK_SHAPE.match(s)
    if not m:
        raise ValueError(
            "unsupported topK query shape — need SELECT [keys,] "
            "topK(n)(x) [AS alias] FROM <table> [WHERE ...] "
            "[GROUP BY keys]")
    sel, table, where, group = m.groups()
    keys = [g.strip() for g in _split_top(group, r",")] if group else []
    if any(not re.fullmatch(r"[\w`]+", k) for k in keys):
        raise ValueError("routed topK supports plain column GROUP BY "
                         f"keys only (got {keys})")
    topk_item = None
    for item in _split_top(sel, r","):
        if _find_call(item, r"topkweighted|topk") is not None:
            if topk_item is not None:
                raise ValueError("only ONE topK per routed query")
            topk_item = item
        elif item.strip().strip("`") not in [k.strip("`") for k in keys]:
            raise ValueError(
                f"non-key select item {item!r} cannot combine with the "
                "routed topK (keys only)")
    im = re.match(
        r"(?is)^(topkweighted|topk)\s*\((\d+)\)\s*\((.*)\)"
        r"(?:\s+AS\s+([\w`]+))?$", topk_item.strip())
    if not im:
        raise ValueError(f"unsupported topK item {topk_item!r}")
    fn, n, inner, alias = (im.group(1).lower(), int(im.group(2)),
                           im.group(3), im.group(4))
    alias = (alias or "topk").strip("`")
    inner_args = _split_top(inner, r",")
    val = _translate_expr(inner_args[0])
    if fn == "topkweighted":
        if len(inner_args) != 2:
            raise ValueError("topKWeighted(n)(x, w) needs two arguments")
        weight = f"sum({_translate_expr(inner_args[1])})"
    else:
        weight = "count(*)"
    key_exprs = [_translate_expr(k) for k in keys]
    base = (f"SELECT {', '.join([*key_exprs, f'{val} AS __val'])}, "
            f"{weight} AS __cnt FROM {table}")
    if where:
        base = (f"SELECT {', '.join([*key_exprs, f'{val} AS __val'])}, "
                f"{weight} AS __cnt FROM {table} "
                f"WHERE {_translate_expr(where)}")
    gb = ", ".join([*key_exprs, "__val"])
    counts = spark.sql(f"{base} GROUP BY {gb}")
    w = (Window.partitionBy(*[F.expr(k) for k in key_exprs])
         if key_exprs else Window.partitionBy())
    w = w.orderBy(F.col("__cnt").desc(), F.col("__val").asc())
    ranked = (counts.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= n))
    agged = ranked.groupBy(*[F.expr(k) for k in key_exprs]).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__rn", "__val"))),
            lambda t: t.getField("__val")).alias(alias))
    if keys:
        out_keys = [k.strip("`").split(".")[-1] for k in keys]
        return agged.toDF(*out_keys, alias)
    return agged


_WITH_FILL = re.compile(
    r"(?is)\bORDER\s+BY\s+([A-Za-z_]\w*)(\s+DESC|\s+ASC)?\s+WITH\s+FILL"
    r"(?:\s+FROM\s+(-?\d+))?(?:\s+TO\s+(-?\d+))?(?:\s+STEP\s+(\d+))?\s*$")


_ARRAY_JOIN_RE = re.compile(r"(?is)\b(LEFT\s+)?ARRAY\s+JOIN\b")
# constructs that only a structural route can express: their presence
# inside a FROM/JOIN subquery makes the subquery itself routable
_SUBQ_ROUTE_RE = re.compile(
    r"(?is)\b(?:ARRAY\s+JOIN|LIMIT\s+\d+\s+BY|WITH\s+FILL)\b"
    r"|\btopk\w*\s*\(", re.IGNORECASE | re.DOTALL)


def _route_subqueries(spark, s: str):
    """A FROM/JOIN ``(subquery)`` whose body holds a routed-only
    construct (ARRAY JOIN, LIMIT n BY, WITH FILL, topK) is routed
    through ch_sql recursively, registered as a staging view, and
    substituted — so nested routed constructs COMPOSE instead of hitting
    the string translator's refusal. Returns None when no such subquery
    exists (the common case: zero overhead beyond one linear scan).
    The staging view is dropped as soon as the outer plan is analyzed,
    like the ARRAY JOIN route's."""
    depth, quote, i = 0, None, 0
    while i < len(s):
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch == "'":
            quote = ch
        elif ch == "(":
            if depth == 0 and re.search(r"(?is)\b(FROM|JOIN)\s*$", s[:i]):
                close = _match_paren(s, i)
                inner = s[i + 1: close]
                if _SUBQ_ROUTE_RE.search(inner) and \
                        re.match(r"(?is)\s*(SELECT|WITH)\b", inner):
                    df = ch_sql(spark, inner)
                    _AJ_SEQ[0] += 1
                    view = f"__ch_subq_{_AJ_SEQ[0]}"
                    df.createOrReplaceTempView(view)
                    try:
                        return ch_sql(spark, s[:i] + view + s[close + 1:])
                    finally:
                        spark.catalog.dropTempView(view)
            depth += 1
        elif ch == ")":
            depth -= 1
        i += 1
    return None
# clause keywords that end the ARRAY JOIN item list at depth 0
_AJ_END_RE = re.compile(
    r"(?is)\b(WHERE|PREWHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|WINDOW|"
    r"UNION|SETTINGS|FORMAT)\b")
_AJ_SEQ = [0]  # session-lifetime view-name counter


def _find_top(s: str, pat: re.Pattern):
    """First match of ``pat`` at paren depth 0 and outside quotes
    (same balanced-prefix test the other routes use)."""
    for m in pat.finditer(s):
        prefix = s[: m.start()]
        if prefix.count("(") == prefix.count(")") and \
                prefix.count("'") % 2 == 0:
            return m
    return None


def _run_array_join(spark, s: str, m: re.Match):
    """``FROM rel [LEFT] ARRAY JOIN item[, item...]`` routed as the
    q_array_join / q_array_join_left plan (E57/E160): build the unnested
    relation with ``posexplode``/``posexplode_outer`` (a row-local
    Generate — zero shuffles, fan-out map-side only), register it as a
    view, and re-enter ch_sql with the clause replaced by the view — so
    the rest of the statement (WHERE on the element, GROUP BY, LIMIT BY,
    another routed construct) composes unchanged.

    ClickHouse item semantics: a bare column (``ARRAY JOIN arr``)
    REPLACES that column with its element; ``expr AS a`` keeps the
    source column and adds the element as ``a``. Multiple items are
    zipped in lockstep (the first array drives the row count; the
    others are indexed per position, NULL past their end — ClickHouse
    instead errors on unequal sizes, the one documented deviation).
    LEFT keeps empty/NULL-array rows with a NULL element, matching the
    repo's pinned q_array_join_left contract.
    """
    from pyspark.sql import functions as F

    left = bool(m.group(1))
    # the owning FROM: the last top-level FROM before the clause
    from_m = None
    for fm in re.finditer(r"(?is)\bFROM\b", s[: m.start()]):
        prefix = s[: fm.start()]
        if prefix.count("(") == prefix.count(")") and \
                prefix.count("'") % 2 == 0:
            from_m = fm
    if from_m is None:
        raise ValueError("ARRAY JOIN without a top-level FROM clause")
    rel = s[from_m.end(): m.start()].strip()
    if rel.startswith("("):
        close = _match_paren(rel, 0)
        inner, alias_txt = rel[1: close], rel[close + 1:].strip()
        am = re.match(r"(?is)^(?:AS\s+)?([\w`]+)$", alias_txt) \
            if alias_txt else None
        if alias_txt and not am:
            raise ValueError(
                f"unsupported relation shape before ARRAY JOIN: {rel!r}")
        base = ch_sql(spark, inner)  # subquery may hold routed shapes
        alias = am.group(1).strip("`") if am else None
    else:
        rm = re.match(r"(?is)^([\w`.]+)(?:\s+(?:AS\s+)?([\w`]+))?$", rel)
        if not rm:
            raise ValueError(
                "unsupported relation shape before ARRAY JOIN (a JOIN "
                f"between FROM and ARRAY JOIN is not routable): {rel!r}")
        base = spark.table(rm.group(1).strip("`"))
        alias = (rm.group(2) or rm.group(1)).strip("`")
    tail = s[m.end():]
    em = _find_top(tail, _AJ_END_RE)
    items_txt = tail[: em.start()] if em else tail
    rest = tail[em.start():] if em else ""
    items = []  # (translated expr, element name, replaces_source_col)
    for it in _split_top(items_txt, r","):
        stripped = it.lstrip()
        if stripped.startswith("("):
            close = _match_paren(stripped, 0)
            inner = stripped[1:close]
            if len(_split_top(inner, r",")) > 1:
                # `ARRAY JOIN (a, b) AS t` — a parenthesized TUPLE is not
                # an array on either engine (CH rejects it too: ARRAY
                # JOIN needs Array arguments, and (a, b) is a Tuple).
                # Refuse with the lockstep rewrite instead of letting
                # posexplode die in analysis with a DATATYPE_MISMATCH.
                raise ValueError(
                    f"ARRAY JOIN item {it.strip()!r} is a parenthesized "
                    "tuple - not an array (ClickHouse rejects this shape "
                    "too). For lockstep expansion write each array as its "
                    "own item: ARRAY JOIN a AS ea, b AS eb")
            # single-element parens are plain grouping (valid CH):
            # unwrap and parse the item normally
            it = inner + stripped[close + 1:]
        am = re.match(r"(?is)^(.*?)\s+AS\s+([\w`]+)\s*$", it)
        if am:
            items.append((_translate_expr(am.group(1).strip()),
                          am.group(2).strip("`"), False))
        elif re.match(r"(?is)^[\w`]+$", it):
            # a bare item REPLACES that source column: resolve it against
            # base.columns the way Spark resolves identifiers — case-
            # insensitively, exact match preferred — and canonicalize to
            # the actual column name so the replacement projection finds
            # it (ADVICE r9: `ARRAY JOIN TAGS` over a column named `tags`
            # silently returned the un-exploded array). An item matching
            # no base column refuses loudly, as ClickHouse would.
            bare = it.strip("`")
            hits = ([c for c in base.columns if c == bare]
                    or [c for c in base.columns
                        if c.lower() == bare.lower()])
            if not hits:
                raise ValueError(
                    f"ARRAY JOIN column {bare!r} not found in the source "
                    f"relation (columns: {base.columns})")
            items.append((hits[0], hits[0], True))
        else:
            raise ValueError(
                f"ARRAY JOIN item needs an AS alias unless it is a bare "
                f"column: {it!r}")
    if not items:
        raise ValueError("ARRAY JOIN with an empty item list")
    if alias:
        base = base.alias(alias)  # items may qualify exprs, e.g. t.ps
    pos = "__ch_aj_pos"
    gen = F.posexplode_outer if left else F.posexplode
    df = base.select(
        "*", gen(F.expr(items[0][0])).alias(pos, "__ch_aj_e0"))
    for k, (expr, _name, _rep) in enumerate(items[1:], start=1):
        # try_element_at, not element_at: this session runs ANSI mode,
        # where element_at past a shorter array's end throws
        # INVALID_ARRAY_INDEX_IN_ELEMENT_AT — try_element_at delivers
        # the documented NULL-past-end lockstep semantics (ADVICE r9)
        df = df.withColumn(
            f"__ch_aj_e{k}",
            F.try_element_at(F.expr(expr), F.col(pos) + F.lit(1)))
    replaced = {expr: f"__ch_aj_e{k}"
                for k, (expr, _name, rep) in enumerate(items) if rep}
    out = [F.col(replaced[c]).alias(c) if c in replaced else F.col(c)
           for c in base.columns]
    out += [F.col(f"__ch_aj_e{k}").alias(name)
            for k, (_expr, name, rep) in enumerate(items) if not rep]
    _AJ_SEQ[0] += 1
    view = f"__ch_array_join_{_AJ_SEQ[0]}"
    df.select(*out).createOrReplaceTempView(view)
    as_clause = f" AS {alias}" if alias else ""
    try:
        return ch_sql(
            spark, s[: from_m.start()] + f"FROM {view}{as_clause} " + rest)
    finally:
        # spark.sql analyzes eagerly, so the returned plan holds the
        # resolved relation — dropping the staging view immediately
        # keeps a long-lived session's catalog from growing one entry
        # per routed ARRAY JOIN
        spark.catalog.dropTempView(view)


def _run_with_fill(spark, s: str):
    """``ORDER BY col WITH FILL [FROM a] [TO b] [STEP s]`` routed as the
    q_with_fill plan: run the base query, generate the integer axis, and
    UNION the axis points the result is missing, with the other columns
    at their ClickHouse defaults (0 for numerics, '' for strings, NULL
    otherwise). FROM/TO default to the result's min/max (one bounded
    1-row aggregate); TO is exclusive, matching ClickHouse. The axis is
    a metadata-sized range, the anti-join keys on the fill column, and
    the fill never rescans the base relation — the 100 TB cost is the
    base query itself. Supported shape: a single ASC integer fill column
    (refuses otherwise rather than mistranslating)."""
    from pyspark.sql import functions as F

    m = _WITH_FILL.search(s)
    if not m or (m.group(2) or "").strip().upper() == "DESC":
        raise ValueError(
            "unsupported WITH FILL shape — need a final "
            "'ORDER BY <column> [ASC] WITH FILL [FROM i] [TO i] [STEP i]' "
            "on a single integer column")
    prefix = s[: m.start()]
    if prefix.count("(") != prefix.count(")") or prefix.count("'") % 2:
        raise ValueError("WITH FILL inside a subquery is not routable")
    col, _dir, lo, hi, step = (m.group(1), m.group(2), m.group(3),
                               m.group(4), m.group(5))
    base_df = ch_sql(spark, prefix)  # base may hold other routed shapes
    if col not in base_df.columns:
        raise ValueError(f"WITH FILL column {col!r} not in the result "
                         f"columns {base_df.columns}")
    step_n = int(step) if step else 1
    if lo is None or hi is None:
        row = base_df.agg(F.min(col).alias("lo"),
                          F.max(col).alias("hi")).first()
        lo_n = int(lo) if lo is not None else int(row["lo"])
        # derived TO is inclusive of the observed max (CH derives the
        # axis from the data the same way); explicit TO is exclusive
        hi_n = int(hi) if hi is not None else int(row["hi"]) + 1
    else:
        lo_n, hi_n = int(lo), int(hi)
    fill_t = dict(base_df.dtypes)[col]
    axis = (spark.range(lo_n, hi_n, step_n)
            .select(F.col("id").cast(fill_t).alias(col)))
    defaults = []
    for name, t in base_df.dtypes:
        if name == col:
            continue
        if t in ("string",):
            d = F.lit("")
        elif t.startswith(("int", "bigint", "smallint", "tinyint",
                           "double", "float", "decimal")):
            d = F.lit(0)
        else:
            d = F.lit(None)
        defaults.append(d.cast(t).alias(name))
    missing = axis.join(base_df.select(col), col, "left_anti") \
        .select(F.col(col), *defaults).select(*base_df.columns)
    return base_df.unionByName(missing).orderBy(F.col(col).asc())


class ClickHouseSession:
    """Unified "paste any ClickHouse statement" front end: routes each
    statement to the engine or translator that owns its semantics —
    CREATE TABLE → ``create_table_from_ddl`` (a SparkMergeTree under
    this session's base directory), ALTER/OPTIMIZE/TRUNCATE/INSERT/
    DESCRIBE/etc. on a known table → ``execute_ddl``, SELECT → the
    dialect translator over the session's registered views PLUS a view
    per created engine table (refreshed after mutating statements, so a
    SELECT observes its own session's writes). DROP TABLE closes and
    removes the engine table.

    This is the migration surface in one object: a runbook or dashboard
    script executes top to bottom unchanged. Each statement stays on its
    owner's scale path — engine DDL is manifest-metadata work, SELECTs
    are Catalyst plans; the router itself never touches data.
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        import os

        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.tables: dict[str, object] = {}
        self.matviews: dict[str, tuple] = {}  # mv name -> (view, src name)
        # dict name -> (PRIMARY KEY column, source relation name)
        self.dictionaries: dict[str, tuple[str, str]] = {}

    def _refresh_view(self, name: str) -> None:
        self.tables[name].query_all().createOrReplaceTempView(name)

    def execute(self, sql: str):
        import os
        import re as _re

        from clickhouse_mergetree_spark.engine.ddl import (
            create_table_from_ddl, execute_ddl)

        s = sql.strip().rstrip(";").strip()
        m = _re.match(r"(?is)^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                      r"(?:[\w`]+\.)?([\w`]+)\s+ENGINE\s*=\s*MergeTree\s*"
                      r"(?:\(\s*\))?\s*ORDER\s+BY\s+(\([^)]*\)|[\w`]+)\s+"
                      r"AS\s+(SELECT\b.*|WITH\b.*)$", s)
        if m:
            # CTAS: schema derives from the (dialect) SELECT, the ORDER
            # BY names the engine keys, rows land through the ordinary
            # insert path (dedup per the engine contract, like any other
            # MergeTree insert)
            from clickhouse_mergetree_spark.engine.merge_tree import (
                MergeTreeConfig, SparkMergeTree)

            name = m.group(1).strip("`")
            order_cols = [c.strip().strip("`")
                          for c in m.group(2).strip("()").split(",")
                          if c.strip()]
            df = ch_sql(self.spark, m.group(3))
            missing = [c for c in order_cols if c not in df.columns]
            if missing:
                raise ValueError(
                    f"CTAS ORDER BY columns {missing} absent from the "
                    f"SELECT output {df.columns}")
            table = SparkMergeTree(
                self.spark, os.path.join(self.base_dir, name),
                schema=df.schema,
                config=MergeTreeConfig(
                    key_col=order_cols[0],
                    ts_col=order_cols[1] if len(order_cols) > 1
                    else order_cols[0]))
            table.insert_batch(df)
            table.flush()
            self.tables[name] = table
            self._refresh_view(name)
            return table
        m = _re.match(r"(?is)^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                      r"(?:[\w`]+\.)?([\w`]+)", s)
        if m:
            name = m.group(1).strip("`")
            self.tables[name] = create_table_from_ddl(
                self.spark, os.path.join(self.base_dir, name), s)
            self._refresh_view(name)
            return self.tables[name]
        m = _re.match(r"(?is)^RENAME\s+TABLE\s+(?:[\w`]+\.)?([\w`]+)\s+"
                      r"TO\s+(?:[\w`]+\.)?([\w`]+)$", s)
        if m:
            old, new = (m.group(1).strip("`"), m.group(2).strip("`"))
            if old not in self.tables:
                raise ValueError(f"unknown table {old!r}")
            if new in self.tables:
                raise ValueError(f"table {new!r} already exists")
            self.tables[new] = self.tables.pop(old)
            if old in self.matviews:
                self.matviews[new] = self.matviews.pop(old)
            # ADVICE r8: bindings that reference the old name as SOURCE
            # must follow the rename, or DROP TABLE mv can no longer
            # detach the view (inserts keep flowing into a closed MV
            # target) and dictionary re-snapshots go stale
            for mv_name, (view, src) in list(self.matviews.items()):
                if src == old:
                    self.matviews[mv_name] = (view, new)
            for d_name, (key, src) in list(self.dictionaries.items()):
                if src == old:
                    self.dictionaries[d_name] = (key, new)
            self.spark.catalog.dropTempView(old)
            self._refresh_view(new)
            return None
        m = _re.match(r"(?is)^EXCHANGE\s+TABLES\s+(?:[\w`]+\.)?([\w`]+)\s+"
                      r"AND\s+(?:[\w`]+\.)?([\w`]+)$", s)
        if m:
            # ClickHouse EXCHANGE TABLES a AND b: both names swap their
            # objects in ONE registry commit (no window where either name
            # is missing — the property RENAME via a temp name lacks).
            # MV/dictionary source bindings follow the OBJECT, matching
            # the RENAME route's bookkeeping: a view stays attached to
            # the physical table it was created on, so DROP TABLE can
            # still detach it under the table's post-exchange name.
            a, b = (m.group(1).strip("`"), m.group(2).strip("`"))
            for n in (a, b):
                if n not in self.tables:
                    raise ValueError(f"unknown table {n!r}")
            if a == b:
                raise ValueError("EXCHANGE TABLES needs two distinct tables")
            self.tables[a], self.tables[b] = self.tables[b], self.tables[a]
            swap = {a: b, b: a}
            for mv_name, (view, src) in list(self.matviews.items()):
                if src in swap:
                    self.matviews[mv_name] = (view, swap[src])
            for d_name, (key, src) in list(self.dictionaries.items()):
                if src in swap:
                    self.dictionaries[d_name] = (key, swap[src])
            self._refresh_view(a)
            self._refresh_view(b)
            return None
        m = _re.match(r"(?is)^EXISTS\s+(?:TABLE\s+)?"
                      r"(?:[\w`]+\.)?([\w`]+)$", s)
        if m:
            hit = int(m.group(1).strip("`") in self.tables)
            return self.spark.sql(f"SELECT {hit} AS result")
        if _re.match(r"(?is)^SHOW\s+TABLES$", s):
            rows = ", ".join(f"('{n}')" for n in sorted(self.tables))
            if not rows:
                return self.spark.sql(
                    "SELECT CAST(NULL AS STRING) AS name WHERE false")
            return self.spark.sql(
                f"SELECT * FROM (VALUES {rows}) AS t(name)")
        m = _re.match(r"(?is)^CREATE\s+MATERIALIZED\s+VIEW\s+"
                      r"(?:[\w`]+\.)?([\w`]+)", s)
        if m:
            from clickhouse_mergetree_spark.engine.ddl import (
                create_materialized_view_from_ddl)

            name = m.group(1).strip("`")
            sm = _re.search(r"(?is)\bAS\s+SELECT\b.*?\bFROM\s+"
                            r"(?:[\w`]+\.)?([\w`]+)", s)
            if not sm:
                raise ValueError("CREATE MATERIALIZED VIEW needs "
                                 "AS SELECT ... FROM <table>")
            src = sm.group(1).strip("`")
            if src not in self.tables:
                raise ValueError(f"unknown MV source table {src!r}")
            view = create_materialized_view_from_ddl(
                self.spark, self.tables[src],
                os.path.join(self.base_dir, name), s)
            # the MV's target IS a table (ClickHouse semantics): readable,
            # DROPpable by name; remember the binding so DROP detaches it
            self.tables[name] = view.target
            self.matviews[name] = (view, src)
            self._refresh_view(name)
            return view
        m = _re.match(r"(?is)^CREATE\s+DICTIONARY\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                      r"(?:[\w`]+\.)?([\w`]+)", s)
        if m:
            name = m.group(1).strip("`")
            km = _re.search(r"(?is)\bPRIMARY\s+KEY\s+([\w`]+)", s)
            sm = _re.search(r"(?is)\bSOURCE\s*\(\s*\w+\s*\("
                            r"[^)]*?TABLE\s+'([\w.]+)'", s)
            if not km or not sm:
                raise ValueError(
                    "CREATE DICTIONARY needs PRIMARY KEY <col> and "
                    "SOURCE(...(TABLE '<table>'...))")
            src = sm.group(1)
            if src in self.tables:
                self.tables[src].query_all().createOrReplaceTempView(name)
            elif self.spark.catalog.tableExists(src):
                self.spark.table(src).createOrReplaceTempView(name)
            else:
                raise ValueError(f"unknown dictionary source {src!r}")
            self.dictionaries[name] = (km.group(1).strip("`"), src)
            return None
        m = _re.match(r"(?is)^DROP\s+DICTIONARY\s+(?:IF\s+EXISTS\s+)?"
                      r"(?:[\w`]+\.)?([\w`]+)$", s)
        if m:
            name = m.group(1).strip("`")
            if self.dictionaries.pop(name, None) is None:
                if not _re.search(r"(?i)IF\s+EXISTS", s):
                    raise ValueError(f"unknown dictionary {name!r}")
                return None
            self.spark.catalog.dropTempView(name)
            return None
        m = _re.match(r"(?is)^DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?"
                      r"(?:[\w`]+\.)?([\w`]+)$", s)
        if m:
            name = m.group(1).strip("`")
            t = self.tables.pop(name, None)
            if t is None:
                if _re.search(r"(?i)IF\s+EXISTS", s):
                    return None
                raise ValueError(f"unknown table {name!r}")
            mv = self.matviews.pop(name, None)
            if mv is not None and mv[1] in self.tables:
                self.tables[mv[1]].detach_view(mv[0])
            t.close()
            self.spark.catalog.dropTempView(name)
            return None
        m = _re.match(r"(?is)^(ALTER\s+TABLE|OPTIMIZE\s+TABLE|TRUNCATE"
                      r"\s+TABLE|INSERT\s+INTO|DESC(?:RIBE)?(?:\s+TABLE)?|"
                      r"SHOW\s+CREATE\s+TABLE|SYSTEM\s+\w+\s+MERGES)\s+"
                      r"(?:[\w`]+\.)?([\w`]+)", s)
        if m:
            name = m.group(2).strip("`")
            if name not in self.tables:
                raise ValueError(f"unknown table {name!r} (created tables: "
                                 f"{sorted(self.tables)})")
            out = execute_ddl(self.tables[name], s)
            # a mutation refreshes every session view: an INSERT into an
            # MV's source changes the MV target's content too, and a
            # dictionary sourced from a session table re-snapshots (the
            # in-session stand-in for ClickHouse's LIFETIME reload)
            for n in self.tables:
                self._refresh_view(n)
            for dname, (_k, src) in self.dictionaries.items():
                if src in self.tables:
                    self.tables[src].query_all() \
                        .createOrReplaceTempView(dname)
            return out
        m = _re.match(r"(?is)^EXPLAIN\s+(?:PLAN\s+)?(SELECT\b.*|WITH\b.*)$",
                      s)
        if m:
            # migration debugging: the routed query's PHYSICAL Spark plan
            # as a 1-column relation (ClickHouse EXPLAIN shape)
            df = self.execute(m.group(1))
            plan = df._jdf.queryExecution().executedPlan().toString()
            return self.spark.createDataFrame(
                [(line,) for line in plan.rstrip().split("\n")],
                "explain string")
        if _re.match(r"(?is)^(SELECT|WITH)\b", s):
            s = self._route_table_reads(s)
            s = self._rewrite_enum_reads(s)
            # unconditional: a dictGet over an unknown/dropped dictionary
            # must refuse by name, not leak to Spark as an unknown fn.
            # Attribute types come from the registered dictionary views,
            # so a missed key yields the TYPE default (CH semantics)
            types = {
                n: dict(self.spark.table(n).dtypes)
                for n in self.dictionaries
            }
            s = rewrite_dict_calls(
                s, {n: k for n, (k, _src) in self.dictionaries.items()},
                types)
            return ch_sql(self.spark, s)
        raise ValueError(f"unroutable statement: {s[:80]!r}")

    def _rewrite_enum_reads(self, s: str) -> str:
        """Collect the enum_values mappings of every session table the
        statement references and route order-sensitive reads through
        rewrite_enum_order (CH numeric-order semantics — see the module
        section above it). Same-named enum columns with CONFLICTING
        mappings across referenced tables refuse loudly — a textual
        rewrite cannot attribute the bare column to a table."""
        import re as _re

        maps: dict[str, dict[str, int]] = {}
        for name, table in self.tables.items():
            meta = getattr(getattr(table, "manifest", None),
                           "table_meta", None) or {}
            enums = meta.get("enum_values") or {}
            if not enums or not _re.search(rf"(?i)\b{name}\b", s):
                continue
            for col, mapping in enums.items():
                if col in maps and maps[col] != mapping:
                    raise ValueError(
                        f"enum column {col!r} is declared with "
                        f"conflicting label mappings in two referenced "
                        f"tables — qualify/alias the column by hand")
                maps[col] = mapping
        return rewrite_enum_order(s, maps) if maps else s

    def _route_table_reads(self, s: str) -> str:
        """Rewrite FROM-clause modifiers that need the engine table:

        - ``FROM t FINAL`` — the session's per-table views are
          ``query_all()`` reads, which ALWAYS collapse (dedup/replace/
          collapse per the table's engine mode), so FINAL is already the
          contract: strip the keyword. A FINAL on a non-session table
          still refuses in the translator.
        - ``FROM t SAMPLE f [OFFSET o]`` — routed to the engine's
          ``query_sample`` (deterministic SAMPLE BY bucket read: the
          predicate rides the scan below the dedup shuffle, so at 100 TB
          the shuffle shrinks by the sample factor); the sampled read is
          registered as a view and the query runs over it.
        """
        import re as _re

        for name, table in self.tables.items():
            s = _re.sub(
                rf"(?is)\bFROM\s+{name}"
                rf"((?:\s+(?:AS\s+)?(?!FINAL\b|SAMPLE\b)\w+)?)\s+FINAL\b",
                rf"FROM {name}\1", s)
            m = _re.search(
                rf"(?is)\bFROM\s+{name}\s+SAMPLE\s+([\d.]+)"
                rf"(?:\s+OFFSET\s+([\d.]+))?", s)
            if m:
                frac = float(m.group(1))
                if frac >= 1.0:
                    raise ValueError(
                        "SAMPLE n (row-count form) has no deterministic "
                        "translation — use a fraction in (0, 1)")
                view = f"__ch_sample_{name}"
                table.query_sample(frac, float(m.group(2) or 0.0)) \
                    .createOrReplaceTempView(view)
                s = s[: m.start()] + f" FROM {view}" + s[m.end():]
        return s
