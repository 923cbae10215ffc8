"""The ``catalogue`` workload: declared queries from every operator module,
each checked once against its DuckDB oracle, then timed with the noop sink
exactly as ``bench.py`` times them.

The data set is generated inside the run by the repository's own
deterministic generator (``tools/gen_scale_data.py``) at ``SF``, and every
pass runs the queries in the order of ``QUERIES``. Neither depends on the
seed: a seeded order made each run's timings depend on which query ran
after which, so runs with different seeds are plain repeats.
"""

from __future__ import annotations

import hashlib
import os
import time

import duckdb

from measure import median

SF = 0.01
PASS_S = 10.0  # nominal seconds per pass on a 4-core host (see Context.rounds)
# One query per operator module, and two lifecycle ones, picked for a steady
# pass within the run budget: q_stream_tumbling stands in for q_stream_join,
# which took four times as long and spread most between runs. The
# engine_queries are the lifecycle half (driver round-trips), the rest the
# data-bound half.
QUERIES = (
    "q_agg_basic",                   # relational
    "q_ch_dialect",                  # sql_queries, through chsql
    "q_near_dedup",                  # dedup
    "q_sim_search_ivf_partitioned",  # similarity
    "q_text_tfidf",                  # text_analysis
    "q_corr_matrix",                 # stats
    "q_stream_tumbling",             # streams
    "q_lightweight_delete",          # engine_queries
    "q_mergetree_source",            # engine_queries
)
TINY_QUERIES = ("q_agg_basic", "q_lightweight_delete")
LIFECYCLE = "engine_queries"
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def group_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def generate(out_dir: str) -> None:
    """Write the ten fixture tables at ``SF`` into ``out_dir``. The
    generator copies the fixed region and nation tables from a reference
    directory, so those two are written first."""
    from tools import gen_scale_data

    ref = out_dir + "_ref"
    os.makedirs(ref, exist_ok=True)
    con = duckdb.connect()
    try:
        regions = ", ".join(f"'{r}'" for r in REGIONS)
        con.execute(f"""COPY (SELECT r::INT AS r_regionkey,
                                     [{regions}][r + 1] AS r_name
                              FROM range(5) t(r))
                        TO '{ref}/region.parquet' (FORMAT parquet)""")
        con.execute(f"""COPY (SELECT n::INT AS n_nationkey,
                                     'NATION_' || n AS n_name,
                                     (n % 5)::INT AS n_regionkey
                              FROM range(25) t(n))
                        TO '{ref}/nation.parquet' (FORMAT parquet)""")
    finally:
        con.close()
    gen_scale_data.generate(SF, out_dir, ref)


class _Collected:
    """A collected result in the shape ``oracle_compare.compare`` reads."""

    def __init__(self, df):
        self.columns = list(df.columns)
        self.rows = df.collect()

    def collect(self):
        return self.rows


def catalogue(ctx, tiny: bool = False) -> dict:
    from clickhouse_mergetree_spark.registry import all_queries
    from clickhouse_mergetree_spark.tables import TABLE_NAMES
    from tests.oracle_compare import compare, normalize

    spark, tr, ops = ctx.spark, ctx.tracer, ctx.ops
    registry = all_queries()
    queries = [registry[n] for n in (TINY_QUERIES if tiny else QUERIES)]
    repeats = 1 if tiny else 3

    # Set-up: generate the data (repeated, median kept), then one cold pass
    # that checks every query against its oracle and builds the per-corpus
    # memoized artifacts, as bench.py's prewarm does.
    gen_s = []
    for r in range(repeats):
        sf_dir = os.path.join(ctx.work, f"sf{SF}_{r}")
        t0 = time.perf_counter()
        generate(sf_dir)
        gen_s.append(time.perf_counter() - t0)
    duck = duckdb.connect()
    for t in TABLE_NAMES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"read_parquet('{sf_dir}/{t}.parquet')")
    cold_s = 0.0
    hashes = {}
    for q in queries:
        t0 = time.perf_counter()
        try:
            with tr.span("setup.query", query=q.name):
                got = _Collected(q.fn(spark, sf_dir))
        except Exception as exc:  # a failing query is counted, not fatal
            ops.fail(q.name, exc)
            continue
        finally:
            cold_s += time.perf_counter() - t0
            spark.catalog.clearCache()
        try:
            compare(got, duck, q.oracle)
            ops.check(True, q.name)
        except AssertionError as exc:
            ops.check(False, f"{q.name} vs oracle: {str(exc)[:300]}")
        hashes[q.name] = hashlib.sha256(repr(normalize(
            [tuple(r) for r in got.rows], got.columns)).encode()).hexdigest()
    input_rows = {t: duck.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                  for t in TABLE_NAMES}
    duck.close()
    ctx.setup_s.append(median(gen_s) + cold_s)

    passes = ctx.rounds(PASS_S)
    loop0 = ctx.loop_start()
    for _ in range(passes):
        for q in queries:
            def op(sp, q=q):
                with tr.span("query.build"):
                    df = q.fn(spark, sf_dir)
                with tr.span("query.exec"):
                    df.write.format("noop").mode("overwrite").save()

            try:
                ops.run(q.name, op, query=q.name, group=group_of(q.fn))
            except Exception as exc:  # counted as failed, the pass goes on
                ops.fail(q.name, exc)
            spark.catalog.clearCache()
    wall = ctx.loop_end(loop0)

    # Seconds per pass: each query's median over the passes, summed, so a
    # stall in one execution does not move the figure.
    def per_pass(lifecycle: bool) -> float:
        return sum(median(ops.lat[q.name]) for q in queries
                   if q.name in ops.lat
                   and (group_of(q.fn) == LIFECYCLE) == lifecycle)

    metrics = {
        "throughput_per_s": passes * len(queries) / wall,
        "main_p50_s": per_pass(False),
        "side_p50_s": per_pass(True),
    }
    ctx.info.update({
        "loop_wall_s": wall, "passes": passes, "samples_per_query": passes,
        "queries": [q.name for q in queries],
        "sf": SF, "data_gen_s": gen_s, "cold_pass_s": cold_s,
        "row_hashes": hashes,
        "input_bytes": sum(os.path.getsize(os.path.join(sf_dir, f))
                           for f in os.listdir(sf_dir)),
        "input_rows": input_rows,
    })
    return {"metrics": metrics, "layers": operator_layers(ctx, queries)}


GROUPS = ("relational", "sql_queries", "dedup", "similarity",
          "text_analysis", "stats", "streams", "engine_queries")


def operator_layers(ctx, queries) -> dict:
    """Per operator module, seconds (and Spark work) per pass: for each of
    its queries the mean over its executions, summed over the module.
    ``catalyst_s`` covers the query executions Spark ran inside the
    operation (for the timed write, the write command's own)."""
    tr = ctx.tracer
    if not tr.enabled:
        return {}
    tr.resolve()
    out = {}
    for g in GROUPS:
        row = dict.fromkeys(("build_s", "catalyst_s", "exec_s", "jobs",
                             "task_s", "cpu_s", "input_bytes",
                             "shuffle_bytes", "driver_residual_s"), 0.0)
        for q in queries:
            if group_of(q.fn) != g:
                continue
            spans = tr.named(q.name)
            if not spans:
                continue
            n = len(spans)
            ids = {s["id"]: s for s in spans}
            kids: dict[str, float] = {}
            for s in tr.spans:
                if s["parent"] in ids and "t1" in s:
                    kids[s["name"]] = kids.get(s["name"], 0.0) + (
                        s["t1"] - s["t0"])
            st = tr.stats(spans)
            cat = sum(tr.catalyst_s(s) for s in spans)
            row["build_s"] += kids.get("query.build", 0.0) / n
            row["catalyst_s"] += cat / n
            row["exec_s"] += kids.get("query.exec", 0.0) / n
            for k in ("jobs", "task_s", "cpu_s", "input_bytes",
                      "shuffle_bytes"):
                row[k] += st[k] / n
            row["driver_residual_s"] += (st["busy_s"] - cat
                                         - st["job_busy_s"]) / n
        for k, v in row.items():
            out[f"{g}.{k}"] = v
    return out
