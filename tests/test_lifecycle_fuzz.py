"""Randomized ALTER-lifecycle fuzz: the engine vs a plain-Python model.

Round 6 shipped two real bugs in ALTER interaction corners (rename→drop
replay, single-part FINAL materialization); example-based tests only
cover the corners someone thought of. This walk drives random sequences
of insert / flush / ADD / DROP / RENAME / MODIFY / CLEAR / re-ADD /
ADD and DROP INDEX / MODIFY SETTING / optimize / reopen against a
dict-based model of the expected table and
compares the full contents after every sequence and after a reopen with
the ORIGINAL schema (the replay path, where both r6 bugs lived).

Determinism: seeded random walks, exact value domains (small ints /
halves for doubles, so casts are float-exact), fresh column names from a
counter with deliberate re-ADD-after-DROP reuse.
"""

from __future__ import annotations

import random
import shutil
import tempfile

import pytest
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import MergeTreeConfig, SparkMergeTree
from clickhouse_mergetree_spark.engine.merge_tree import _ALTER_OWNED

BASE_FIELDS = [("key", "bigint"), ("ts", "bigint")]
ORIG_PAYLOAD = [("p0", "int"), ("p1", "double")]  # original droppable cols
WIDEN = {"int": ["bigint", "double"], "bigint": ["double"], "double": []}

CFG = dict(memtable_flush_threshold=10**9, max_parts=4,
           key_col="key", ts_col="ts")


def _schema(cols):
    return T.StructType([
        T.StructField(n, T.StructType.fromDDL(f"`x` {t}")[0].dataType,
                      n not in ("key", "ts"))
        for n, t in cols])


def _gen_value(rng, typ):
    if typ == "int":
        return rng.randrange(-100, 100)
    if typ == "bigint":
        return rng.randrange(-10**6, 10**6)
    if typ == "double":
        return rng.randrange(-1000, 1000) / 2.0
    return f"s{rng.randrange(1000)}"


def _cast(value, typ):
    if value is None:
        return None
    if typ in ("int", "bigint"):
        return int(value)
    if typ == "double":
        return float(value)
    return str(value)


class Model:
    """Expected table state: ordered column spec + rows keyed by (key, ts)."""

    def __init__(self):
        self.cols = list(ORIG_PAYLOAD)          # [(name, type)] in order
        self.defaults = {}                      # name -> declared default
        self.rows = {}                          # (key, ts) -> {name: value}
        self.next_key = 0
        self.dropped_or_renamed = set()
        self.policies = {}                      # name -> (lo, hi) key band
        self.defexpr = set()                    # cols whose default = key+ts
        # newest lightweight delete, killable while provably un-
        # materialized: {"mutation_id", "hidden"} — any part-rewriting op
        # (flush/optimize/final/update/expire) clears it, because after a
        # rewrite the engine may have applied the mask to SOME parts and
        # the model cannot know the split
        self.lw_pending = None

    def insert(self, rng, n):
        out = []
        for _ in range(n):
            k, ts = self.next_key, self.next_key
            self.next_key += 1
            vals = {n_: _gen_value(rng, t) for n_, t in self.cols}
            self.rows[(k, ts)] = vals
            out.append((k, ts, *[vals[n_] for n_, _t in self.cols]))
        return out

    def expected(self):
        names = [n for n, _t in self.cols]
        types = dict(self.cols)
        return sorted(
            (k, ts, *[_cast(v.get(n), types[n]) for n in names])
            for (k, ts), v in self.rows.items()
            # row policies hide (never delete) key bands at read time
            if not any(lo <= k < hi for lo, hi in self.policies.values()))


def _apply_random_op(rng, t, m, counter):
    ops = ["insert", "insert", "insert", "flush", "add", "optimize",
           "adddx", "policy", "addindex", "matindex", "constraint"]
    if m.cols:
        ops += ["drop", "rename", "modify", "clear", "final", "matcol"]
    if m.rows:
        ops += ["lwdelete", "expire", "update"]
    if m.lw_pending:
        ops += ["killlw"]
    if m.policies:
        ops += ["droppolicy"]
    op = rng.choice(ops)

    def _all_rowdicts():
        # metadata-only column ops (ADD/DROP/RENAME/CLEAR) change what
        # EVERY physical row reads as — including rows hidden behind a
        # live delete mask, which a later KILL restores; the hidden
        # snapshot must track them or the restore resurrects stale shapes
        vals = list(m.rows.values())
        if m.lw_pending:
            vals += list(m.lw_pending["hidden"].values())
        return vals

    if op == "adddx":
        # ADD COLUMN ... DEFAULT expr over the (never-dropped) structural
        # cols: existing rows derive per-row values, new inserts supply
        # the column explicitly
        name = f"c{counter[0]}"
        counter[0] += 1
        t.add_column(name, "bigint", default_expr="key + ts")
        m.cols.append((name, "bigint"))
        m.defexpr.add(name)  # clear()/TTL reset to the EXPR, not a literal
        for (k, ts), v in m.rows.items():
            v[name] = k + ts
        if m.lw_pending:
            for (k, ts), v in m.lw_pending["hidden"].items():
                v[name] = k + ts
        return
    if op == "policy":
        name = f"pol{counter[0]}"
        counter[0] += 1
        lo = rng.randrange(0, max(1, m.next_key))
        hi = lo + rng.randrange(1, 8)
        t.create_row_policy(name, f"NOT (key >= {lo} AND key < {hi})")
        m.policies[name] = (lo, hi)
        return
    if op == "droppolicy":
        name = rng.choice(sorted(m.policies))
        t.drop_row_policy(name)
        del m.policies[name]
        return
    if op == "addindex":
        # retrofit a skipping index on a payload column; the column
        # becomes structural (drops/renames refuse via try/except below)
        if not m.cols:
            return
        name, typ = rng.choice(m.cols)
        kind = "set" if typ == "string" else "minmax"
        try:
            t.add_index(name, kind, n=16)
        except ValueError:
            return  # duplicate index — fine
        return
    if op == "matindex":
        t.materialize_index()
        return
    if op == "constraint":
        # tautology within the generator's key domain: exercises the
        # write-job validation metric without tripping it
        try:
            t.add_constraint(f"chk{counter[0]}", "key >= 0")
        except ValueError:
            return
        counter[0] += 1
        return
    if op == "lwdelete":
        # masks bind to current rows; predicates on the (stable) key col.
        # Renames/modifies while masks live are refused — the walk's later
        # ops exercise that path via their try/except guards.
        lo = rng.choice(sorted({k for k, _ in m.rows}))
        t.lightweight_delete(f"key >= {lo} AND key < {lo + 7}")
        hidden = {kt: v for kt, v in m.rows.items()
                  if lo <= kt[0] < lo + 7}
        m.rows = {kt: v for kt, v in m.rows.items()
                  if not (lo <= kt[0] < lo + 7)}
        mid = t.manifest.table_meta["mutation_log"][-1]["mutation_id"]
        # hidden = exactly this entry's removals (earlier live masks
        # already removed their bands from the model), so a successful
        # kill restores exactly these rows
        m.lw_pending = {"mutation_id": mid, "hidden": hidden}
        return
    if op == "killlw":
        e, m.lw_pending = m.lw_pending, None
        try:
            t.kill_mutation(e["mutation_id"])
        except ValueError:
            return  # GC'd/materialized meanwhile — nothing to model
        m.rows.update(e["hidden"])
        return
    if op == "expire":
        cutoff = rng.choice(sorted({ts for _, ts in m.rows})) + 1
        m.lw_pending = None  # whole-part drops may GC the entry
        t.expire(cutoff)
        m.rows = {kt: v for kt, v in m.rows.items() if kt[1] >= cutoff}
        return
    if op == "update":
        if not m.cols:
            return
        from pyspark.sql import functions as F
        name, typ = rng.choice(m.cols)
        val = _gen_value(rng, typ)
        lo = rng.choice(sorted({k for k, _ in m.rows}))
        m.lw_pending = None  # part rewrites materialize masks
        t.update_where(
            (F.col("key") >= lo) & (F.col("key") < lo + 9),
            {name: F.lit(val).cast(typ)})
        for (k, ts), v in m.rows.items():
            if lo <= k < lo + 9:
                v[name] = val
        return
    if op == "insert":
        rows = m.insert(rng, rng.randrange(1, 6))
        t.insert_rows(rows)
    elif op == "flush":
        m.lw_pending = None  # flush may trigger a mask-materializing merge
        t.flush()
    elif op == "add":
        # 30%: re-ADD a previously dropped name (the r6 replay corner)
        dropped = sorted(m.dropped_or_renamed)
        if dropped and rng.random() < 0.3:
            name = rng.choice(dropped)
            try:
                typ = rng.choice(["int", "bigint", "double", "string"])
                default = (None if rng.random() < 0.3
                           else _gen_value(rng, typ))
                t.add_column(name, typ, default=default)
            except ValueError:
                return  # renamed-away names are refused — fine
            m.dropped_or_renamed.discard(name)
        else:
            name = f"c{counter[0]}"
            counter[0] += 1
            typ = rng.choice(["int", "bigint", "double", "string"])
            default = None if rng.random() < 0.3 else _gen_value(rng, typ)
            t.add_column(name, typ, default=default)
        m.cols.append((name, typ))
        m.defaults[name] = default
        for v in _all_rowdicts():
            v[name] = default
    elif op == "drop":
        name, _typ = rng.choice(m.cols)
        try:
            t.drop_column(name)
        except ValueError:
            return  # indexed/projected columns are structural — refused
        m.cols = [(n, ty) for n, ty in m.cols if n != name]
        m.dropped_or_renamed.add(name)
        m.defexpr.discard(name)
        for v in _all_rowdicts():
            v.pop(name, None)
    elif op == "rename":
        name, typ = rng.choice(m.cols)
        new = f"c{counter[0]}"
        counter[0] += 1
        try:
            t.rename_column(name, new)
        except ValueError:
            return  # refused under live lw masks — the documented contract
        m.cols = [(new, ty) if n == name else (n, ty)
                  for n, ty in m.cols]
        m.defaults[new] = m.defaults.pop(name, None)
        if name in m.defexpr:
            m.defexpr.discard(name)
            m.defexpr.add(new)
        m.dropped_or_renamed.add(name)
        for v in _all_rowdicts():
            if name in v:
                v[new] = v.pop(name)
    elif op == "modify":
        name, typ = rng.choice(m.cols)
        targets = WIDEN.get(typ, [])
        if not targets:
            return
        new_typ = rng.choice(targets)
        try:
            t.modify_column(name, new_typ)
        except ValueError:
            return  # refused under live lw masks — the documented contract
        m.cols = [(n, new_typ) if n == name else (n, ty)
                  for n, ty in m.cols]
    elif op == "clear":
        name, _typ = rng.choice(m.cols)
        try:
            t.clear_column(name)
        except ValueError:
            return  # indexed/structural columns are refused
        hidden = m.lw_pending["hidden"].items() if m.lw_pending else ()
        for (k, ts), v in [*m.rows.items(), *hidden]:
            v[name] = (k + ts if name in m.defexpr
                       else m.defaults.get(name))
    elif op == "matcol":
        # semantics-free by contract: reads already serve the
        # transformed values, so the model is untouched — the walk
        # checks the forced rewrite never changes visible rows
        name, _typ = rng.choice(m.cols)
        t.materialize_column(name)
    elif op == "optimize":
        m.lw_pending = None
        t.optimize()
    elif op == "final":
        m.lw_pending = None
        t.optimize(final=True)


def _apply_meta_op(rng, t):
    """DROP INDEX or MODIFY SETTING: table metadata only, so the model is
    unchanged. Drawn from their own stream so that the main walk of each
    seed (and the pinned regression seeds) keeps its op sequence."""
    recs = t.manifest.table_meta.get("indexes", [])
    if recs and rng.random() < 0.5:
        rec = rng.choice(recs)
        t.drop_index(rec["col"], rec["kind"])
    elif rng.random() < 0.5:
        t.modify_setting("max_parts", rng.randrange(2, 6))
    else:
        t.modify_setting("part_compression", rng.choice(["zstd", "snappy"]))


def _declared_state(t):
    """The schema and config fields that ALTERs derive."""
    return (t.schema, {f: getattr(t.config, f) for f in (
        *_ALTER_OWNED, *SparkMergeTree.MODIFIABLE_SETTINGS)})


def _check(t, m):
    got = sorted(tuple(r) for r in t.query_all().collect())
    assert got == m.expected(), (
        f"mismatch: engine={got[:3]}... model={m.expected()[:3]}... "
        f"cols={m.cols}")


# seeds 9/16/35 are the walks that caught the refused-re-ADD half-applied
# schema bug and the empty-rewrite-part crash — kept as pinned regressions
@pytest.mark.parametrize("seed", [*range(6), 9, 16, 35])
def test_lifecycle_fuzz(spark, seed):
    rng = random.Random(1000 + seed)
    meta_rng = random.Random(2000 + seed)
    base = tempfile.mkdtemp(prefix="fuzz_tbl_")
    counter = [0]
    m = Model()
    schema0 = _schema(BASE_FIELDS + ORIG_PAYLOAD)
    t = SparkMergeTree(spark, base, schema=schema0,
                       config=MergeTreeConfig(**CFG))

    def walk(steps):
        for _ in range(steps):
            _apply_random_op(rng, t, m, counter)
            if meta_rng.random() < 0.25:
                _apply_meta_op(meta_rng, t)

    try:
        walk(12)
        t.flush()
        _check(t, m)
        # reopen with the ORIGINAL schema: full replay of the ALTER logs,
        # which must derive the same schema and config as the live table
        before = _declared_state(t)
        t.close()
        t = SparkMergeTree(spark, base, schema=schema0,
                           config=MergeTreeConfig(**CFG))
        assert _declared_state(t) == before
        _check(t, m)
        # keep walking after the reopen, then re-verify (replayed state
        # must be a working table, not just a readable one)
        walk(5)
        t.flush()
        _check(t, m)
    finally:
        t.close()
        shutil.rmtree(base, ignore_errors=True)
