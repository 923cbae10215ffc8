"""Projection suite (ClickHouse PROJECTION analog — extension).

Partial-combining exactness, projection-only scans (inputFiles), routing
(smallest covering projection / fallback to raw), lifecycle consistency
across merge + mutation + TTL, buffered-row inclusion, and the
non-materialized-part raw fallback.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import (
    MergeTreeConfig,
    ProjectionSpec,
    SparkMergeTree,
)

SCHEMA = T.StructType([
    T.StructField("key", T.LongType(), False),
    T.StructField("ts_us", T.LongType(), False),
    T.StructField("cat", T.StringType(), True),
    T.StructField("value", T.DecimalType(18, 6), True),
])

SPEC = ProjectionSpec("by_key_cat", ("key", "cat"),
                      {"value_sum": ("sum", "value"),
                       "n": ("count", "value"),
                       "v_min": ("min", "value"),
                       "v_max": ("max", "value")})


@pytest.fixture()
def table(spark, tmp_path):
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10,
                          projections=(SPEC,),
                          key_col="key", ts_col="ts_us")
    t = SparkMergeTree(spark, str(tmp_path / "t"), schema=SCHEMA, config=cfg)
    rows = [(k % 7, 1000 + k, "ab"[k % 2], Decimal(k)) for k in range(300)]
    for i in range(3):
        t.insert_rows(rows[i * 100:(i + 1) * 100])
        t.flush()
    t.wait_for_index_builds()  # projection builds attach deferred (r14)
    yield t
    t.close()


def _raw_rollup(t, *gb):
    return {
        tuple(r[c] for c in gb): (r["s"], r["n"], r["mn"], r["mx"])
        for r in t.query_all().groupBy(*gb).agg(
            F.sum("value").cast("decimal(18,6)").alias("s"),
            F.count("*").alias("n"),
            F.min("value").alias("mn"), F.max("value").alias("mx")).collect()
    }


def _proj_rollup(df, *gb):
    return {
        tuple(r[c] for c in gb):
        (r["value_sum"], r["n"], r["v_min"], r["v_max"])
        for r in df.collect()
    }


def test_partials_combine_exactly(table):
    assert _proj_rollup(table.query_projection("by_key_cat"),
                        "key", "cat") == _raw_rollup(table, "key", "cat")


def test_projection_read_never_opens_raw_parts(table):
    files = table.query_projection("by_key_cat").inputFiles()
    assert files and all("_proj_by_key_cat" in f for f in files)


def test_subset_group_by_reaggregates(table):
    got = {r["key"]: r["value_sum"] for r in
           table.query_projection("by_key_cat", ("key",)).collect()}
    want = {}
    for (k, _c), (s, _n, _mn, _mx) in _raw_rollup(table, "key", "cat").items():
        want[k] = want.get(k, Decimal(0)) + s
    assert got == want


def test_uncovered_group_by_rejected(table):
    with pytest.raises(ValueError, match="not covered"):
        table.query_projection("by_key_cat", ("ts_us",))
    with pytest.raises(KeyError):
        table.query_projection("nope")


def test_routing_picks_covering_projection(table):
    req = {"value_sum": ("sum", "value")}
    assert table.routed_projection(("key", "cat"), req) == "by_key_cat"
    assert table.routed_projection(("key",), req) == "by_key_cat"
    # uncovered grouping or differently-defined agg → raw fallback
    assert table.routed_projection(("ts_us",), req) is None
    assert table.routed_projection(("key",), {"value_sum": ("max", "value")}) \
        is None


def test_query_grouped_matches_raw_on_both_paths(table):
    req = {"value_sum": ("sum", "value"), "n": ("count", "value")}
    routed = {r["key"]: (r["value_sum"], r["n"])
              for r in table.query_grouped(("key",), req).collect()}
    # raw fallback path: group by a column not covered by the projection
    fb = table.query_grouped(("cat",), {"v2": ("sum", "value")})
    want_fb = {r["cat"]: r["s"] for r in table.query_all().groupBy("cat")
               .agg(F.sum("value").cast("decimal(18,6)").alias("s")).collect()}
    got_fb = {r["cat"]: r["v2"] for r in fb.collect()}
    assert got_fb == want_fb
    want_routed = {}
    for (k, _c), (s, n, _mn, _mx) in _raw_rollup(table, "key", "cat").items():
        ps, pn = want_routed.get(k, (Decimal(0), 0))
        want_routed[k] = (ps + s, pn + n)
    assert routed == want_routed


def test_merge_rebuilds_projection(table):
    before = _proj_rollup(table.query_projection("by_key_cat"), "key", "cat")
    table.config.max_parts = 1
    table.optimize()
    assert table.part_count() == 1
    assert _proj_rollup(table.query_projection("by_key_cat"),
                        "key", "cat") == before
    # still projection-only
    files = table.query_projection("by_key_cat").inputFiles()
    assert all("_proj_by_key_cat" in f for f in files)


def test_mutation_rewrites_projection(table):
    table.delete_where(F.col("cat") == "a")
    assert {r["cat"] for r in
            table.query_projection("by_key_cat").collect()} == {"b"}
    assert _proj_rollup(table.query_projection("by_key_cat"),
                        "key", "cat") == _raw_rollup(table, "key", "cat")


def test_buffered_rows_included_on_the_fly(table):
    table.insert_rows([(50, 9999, "z", Decimal(5))])
    got = _proj_rollup(table.query_projection("by_key_cat"), "key", "cat")
    assert got[(50, "z")] == (Decimal(5), 1, Decimal(5), Decimal(5))


def test_part_without_materialized_projection_falls_back_to_raw(table, spark):
    # simulate a part written before the projection existed
    victim = table.manifest.parts[0]
    import shutil
    shutil.rmtree(victim.proj_paths["by_key_cat"])
    victim.proj_paths = None
    assert _proj_rollup(table.query_projection("by_key_cat"),
                        "key", "cat") == _raw_rollup(table, "key", "cat")


def test_delete_part_dirs_removes_projections(table, tmp_path):
    import os
    proj_dirs = [p.proj_paths["by_key_cat"] for p in table.manifest.parts]
    assert all(os.path.isdir(d) for d in proj_dirs)
    table.config.max_parts = 1
    table.optimize()
    assert not any(os.path.isdir(d) for d in proj_dirs)


def test_fallback_and_routed_paths_agree_on_duplicate_rows(spark, tmp_path):
    """ADVICE r4 medium: with duplicate (key, ts) rows across parts, the
    no-projection fallback must aggregate the same PHYSICAL multiset the
    projection-routed path aggregates — not query_all(), whose read-time
    dedup would drop the duplicate and change counts/sums by path."""
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10,
                          projections=(SPEC,),
                          key_col="key", ts_col="ts_us")
    t = SparkMergeTree(spark, str(tmp_path / "dup"), schema=SCHEMA,
                       config=cfg)
    try:
        # same (key, ts_us) row in two different parts
        t.insert_rows([(1, 100, "a", Decimal(10)), (2, 200, "b", Decimal(5))])
        t.flush()
        t.insert_rows([(1, 100, "a", Decimal(10))])
        t.flush()
        routed = {r["key"]: (r["value_sum"], r["n"]) for r in t.query_grouped(
            ("key",), {"value_sum": ("sum", "value"),
                       "n": ("count", "value")}).collect()}
        # grouping on ts_us is NOT covered by the projection -> fallback
        fb = {r["ts_us"]: (r["value_sum"], r["n"]) for r in t.query_grouped(
            ("ts_us",), {"value_sum": ("sum", "value"),
                         "n": ("count", "value")}).collect()}
        assert routed[1] == (Decimal(20), 2)   # physical: both copies
        assert fb[100] == (Decimal(20), 2)     # fallback matches physical
        assert fb[200] == (Decimal(5), 1)
    finally:
        t.close()


def test_query_grouped_empty_table_returns_typed_empty(spark, tmp_path):
    """ADVICE r4 low: a fully-empty table must yield an empty result with
    the agg output columns present and typed — not AnalysisException."""
    cfg = MergeTreeConfig(projections=(SPEC,), key_col="key", ts_col="ts_us")
    t = SparkMergeTree(spark, str(tmp_path / "empty"), schema=SCHEMA,
                       config=cfg)
    try:
        routed = t.query_grouped(("key", "cat"),
                                 {"value_sum": ("sum", "value"),
                                  "n": ("count", "value")})
        assert routed.collect() == []
        assert set(routed.columns) == {"key", "cat", "value_sum", "n"}
        fb = t.query_grouped(("ts_us",), {"n": ("count", "value")})
        assert fb.collect() == []
        assert set(fb.columns) == {"ts_us", "n"}
    finally:
        t.close()


def test_projections_refused_on_collapsing_modes(spark, tmp_path):
    """Physical-row partials cannot agree with collapsed reads; the config
    is rejected up front (ClickHouse refuses projections under FINAL)."""
    for mode in ("summing", "collapsing", "aggregating"):
        cfg = MergeTreeConfig(projections=(SPEC,), mode=mode,
                              key_col="key", ts_col="ts_us")
        with pytest.raises(ValueError, match="mode='dedup'"):
            SparkMergeTree(spark, str(tmp_path / f"m_{mode}"),
                           schema=SCHEMA, config=cfg)


# ---------------------------------------------------------------------------
# ALTER ADD / MATERIALIZE / DROP PROJECTION (retrofit on a standing table)

SPEC2 = ProjectionSpec("by_cat", ("cat",),
                       {"value_sum": ("sum", "value"),
                        "n": ("count", "value")})


@pytest.fixture()
def bare_table(spark, tmp_path):
    """Same data as `table` but built with NO projections."""
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10,
                          key_col="key", ts_col="ts_us")
    t = SparkMergeTree(spark, str(tmp_path / "bare"), schema=SCHEMA,
                       config=cfg)
    rows = [(k % 7, 1000 + k, "ab"[k % 2], Decimal(k)) for k in range(300)]
    for i in range(3):
        t.insert_rows(rows[i * 100:(i + 1) * 100])
        t.flush()
    t.wait_for_index_builds()  # projection builds attach deferred (r14)
    yield t
    t.close()


def test_add_projection_serves_raw_until_materialized(bare_table):
    t = bare_table
    req = {"value_sum": ("sum", "value"), "n": ("count", "value")}
    t.add_projection(SPEC2)
    assert t.routed_projection(("cat",), req) == "by_cat"
    assert all(not (p.proj_paths or {}) for p in t.manifest.parts)
    pre = {r["cat"]: (r["value_sum"], r["n"])
           for r in t.query_grouped(("cat",), req).collect()}
    stats = t.materialize_projection("by_cat")
    assert stats == {"parts_built": 3, "parts_skipped": 0}
    post_df = t.query_grouped(("cat",), req)
    assert all("_proj_by_cat" in f for f in post_df.inputFiles())
    post = {r["cat"]: (r["value_sum"], r["n"]) for r in post_df.collect()}
    assert pre == post
    # idempotent
    assert t.materialize_projection("by_cat") == {"parts_built": 0,
                                                  "parts_skipped": 3}


def test_recovered_part_projection_serves_the_added_default(spark,
                                                          tmp_path):
    """A part adopted by manifest-less recovery has no column list and
    holds the original columns. A projection over a column added after
    recovery is built from the part's rows as reads serve them (the lazy
    default), so the projection read equals the raw-row grouping."""
    import os

    base = str(tmp_path / "recovered")
    cfg = dict(memtable_flush_threshold=10**12, max_parts=10,
               key_col="key", ts_col="ts_us")
    t = SparkMergeTree(spark, base, schema=SCHEMA,
                       config=MergeTreeConfig(**cfg))
    t.insert_rows([(k, 1000 + k, "ab"[k % 2], Decimal(k)) for k in range(10)])
    t.flush()
    t.close()
    os.remove(os.path.join(base, "manifest.json"))
    r = SparkMergeTree(spark, base, schema=SCHEMA,
                       config=MergeTreeConfig(**cfg))
    assert [p.columns for p in r.manifest.parts] == [None]
    r.add_column("note", "string", default="n/a")
    r.add_projection(ProjectionSpec("by_note", ("note",),
                                    {"n": ("count", "key")}))
    assert r.materialize_projection("by_note") == {"parts_built": 1,
                                                   "parts_skipped": 0}
    raw = sorted(tuple(x) for x in
                 r.query_all().groupBy("note").count().collect())
    assert raw == [("n/a", 10)]
    got = sorted(tuple(x) for x in r.query_projection("by_note").collect())
    assert got == raw
    r.close()


def test_add_projection_persists_and_new_parts_build_it(bare_table, spark):
    t = bare_table
    t.add_projection(SPEC2)
    t.insert_rows([(99, 9999, "a", Decimal(5))])
    t.flush()  # post-ALTER part builds the projection at write time
    t.wait_for_index_builds()  # projection builds attach deferred (r14)
    assert "by_cat" in (t.manifest.parts[-1].proj_paths or {})
    # reopen with the ORIGINAL projection-less config: DDL replays
    r = SparkMergeTree(spark, t.base_path, schema=SCHEMA,
                       config=MergeTreeConfig(
                           memtable_flush_threshold=10**12, max_parts=10,
                           key_col="key", ts_col="ts_us"))
    assert [s.name for s in r.config.projections] == ["by_cat"]
    r.materialize_projection("by_cat")
    req = {"value_sum": ("sum", "value"), "n": ("count", "value")}
    got = {x["cat"]: x["n"] for x in
           r.query_grouped(("cat",), req).collect()}
    assert got == {"a": 151, "b": 150}
    r.close()


def test_drop_projection_reclaims_files_and_reroutes(bare_table):
    t = bare_table
    req = {"value_sum": ("sum", "value"), "n": ("count", "value")}
    t.add_projection(SPEC2)
    t.materialize_projection("by_cat")
    assert t.drop_projection("by_cat") == 3
    assert t.routed_projection(("cat",), req) is None
    assert all(not (p.proj_paths or {}) for p in t.manifest.parts)
    # reads still correct through the raw path
    got = {x["cat"]: x["n"] for x in
           t.query_grouped(("cat",), req).collect()}
    assert got == {"a": 150, "b": 150}
    with pytest.raises(KeyError):
        t.drop_projection("nope")


def test_add_projection_validation(bare_table, spark, tmp_path):
    t = bare_table
    with pytest.raises(ValueError, match="unknown columns"):
        t.add_projection(ProjectionSpec("bad", ("nope",),
                                        {"n": ("count", "value")}))
    t.add_projection(SPEC2)
    with pytest.raises(ValueError, match="already exists"):
        t.add_projection(SPEC2)
    # collapsing-family tables refuse ADD PROJECTION outright
    s = SparkMergeTree(
        spark, str(tmp_path / "summing"),
        schema=SCHEMA,
        config=MergeTreeConfig(memtable_flush_threshold=10**12,
                               mode="summing",
                               key_col="key", ts_col="ts_us"))
    with pytest.raises(ValueError, match="mode='dedup'"):
        s.add_projection(SPEC2)
    s.close()


SORT_SPEC = ProjectionSpec("by_value", (), {}, ("value",))


def _reads_proj(df, name):
    return any(f"proj_{name}" in f for f in df.inputFiles())


class TestSortProjections:
    """Sort projections: per-part secondary-sort copies serving
    query_col_range with intra-part row-group pruning."""

    @pytest.fixture()
    def stable(self, spark, tmp_path):
        cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10,
                              projections=(SORT_SPEC,),
                              key_col="key", ts_col="ts_us")
        t = SparkMergeTree(spark, str(tmp_path / "st"), schema=SCHEMA,
                           config=cfg)
        rows = [(k, 1000 + k, "ab"[k % 2], Decimal(299 - k))
                for k in range(300)]
        for i in range(3):
            t.insert_rows(rows[i * 100:(i + 1) * 100])
            t.flush()
        t.wait_for_index_builds()  # builds attach deferred (r14)
        yield t
        t.close()

    def test_parts_carry_sorted_copy(self, spark, stable):
        for p in stable.manifest.parts:
            assert p.proj_paths and "by_value" in p.proj_paths
            vals = [r["value"] for r in
                    spark.read.parquet(p.proj_paths["by_value"])
                    .select("value").collect()]
            assert vals == sorted(vals)

    def test_col_range_routes_to_projection(self, stable):
        df = stable.query_col_range("value", Decimal(10), Decimal(20))
        assert _reads_proj(df, "by_value")
        keys = sorted(r["key"] for r in df.collect())
        assert keys == [299 - v for v in range(20, 9, -1)]

    def test_col_range_other_column_ignores_projection(self, stable):
        df = stable.query_col_range("ts_us", 1000, 1010)
        assert not _reads_proj(df, "by_value")
        assert df.count() == 11

    def test_masked_parts_fall_back(self, stable):
        stable.lightweight_delete("value < 10")
        df = stable.query_col_range("value", Decimal(0), Decimal(20))
        assert not _reads_proj(df, "by_value")  # masked ⇒ primary path
        assert df.count() == 11  # 0..9 deleted, 10..20 remain

    def test_schema_evolution_falls_back_then_recovers(self, stable):
        stable.add_column("note", "string", default="x")
        df = stable.query_col_range("value", Decimal(10), Decimal(20))
        assert not _reads_proj(df, "by_value")
        assert df.count() == 11 and df.collect()[0]["note"] == "x"
        stable.optimize(final=True)  # rewrite materializes the column...
        df2 = stable.query_col_range("value", Decimal(10), Decimal(20))
        assert _reads_proj(df2, "by_value")  # ...and rebuilds the proj
        assert df2.count() == 11

    def test_merge_rebuilds_sorted_copy(self, stable):
        stable.optimize(final=True)
        assert len(stable.manifest.parts) == 1
        p = stable.manifest.parts[0]
        assert p.proj_paths and "by_value" in p.proj_paths
        df = stable.query_col_range("value", Decimal(100), Decimal(110))
        assert _reads_proj(df, "by_value") and df.count() == 11

    def test_alter_add_materialize_drop(self, spark, tmp_path):
        cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10,
                              key_col="key", ts_col="ts_us")
        with SparkMergeTree(spark, str(tmp_path / "am"), schema=SCHEMA,
                            config=cfg) as t:
            t.insert_rows([(k, 1000 + k, "a", Decimal(k))
                           for k in range(50)])
            t.flush()
            t.add_projection(SORT_SPEC)
            # pre-ALTER part: fallback, still correct
            assert t.query_col_range(
                "value", Decimal(5), Decimal(9)).count() == 5
            r = t.materialize_projection("by_value")
            assert r == {"parts_built": 1, "parts_skipped": 0}
            df = t.query_col_range("value", Decimal(5), Decimal(9))
            assert _reads_proj(df, "by_value") and df.count() == 5
            t.drop_projection("by_value")
            df2 = t.query_col_range("value", Decimal(5), Decimal(9))
            assert not _reads_proj(df2, "by_value")
            assert df2.count() == 5

    def test_reopen_replays_order_by(self, spark, tmp_path):
        cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10,
                              key_col="key", ts_col="ts_us")
        base = str(tmp_path / "ro")
        with SparkMergeTree(spark, base, schema=SCHEMA, config=cfg) as t:
            t.insert_rows([(k, 1000 + k, "a", Decimal(k))
                           for k in range(50)])
            t.flush()
            t.add_projection(SORT_SPEC)
            t.materialize_projection("by_value")
        with SparkMergeTree(spark, base, schema=SCHEMA,
                            config=MergeTreeConfig(
                                memtable_flush_threshold=10**12,
                                max_parts=10, key_col="key",
                                ts_col="ts_us")) as t2:
            spec = next(s for s in t2.config.projections
                        if s.name == "by_value")
            assert spec.order_by == ("value",)
            df = t2.query_col_range("value", Decimal(5), Decimal(9))
            assert _reads_proj(df, "by_value") and df.count() == 5

    def test_grouped_routing_never_picks_sort_spec(self, stable):
        assert stable.routed_projection(
            ("cat",), {"n": ("count", "value")}) is None
        with pytest.raises(ValueError, match="sort projection"):
            stable.query_projection("by_value")

    def test_sort_spec_allowed_on_summing_mode(self, spark, tmp_path):
        cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10,
                              mode="summing", projections=(SORT_SPEC,),
                              key_col="key", ts_col="ts_us")
        with SparkMergeTree(spark, str(tmp_path / "sm"), schema=SCHEMA,
                            config=cfg) as t:
            t.insert_rows([(1, 10, "a", Decimal(2)),
                           (1, 10, "a", Decimal(3)),
                           (2, 20, "b", Decimal(5))])
            t.flush()
            rows = {r["key"]: r["value"] for r in
                    t.query_col_range("value", Decimal(0),
                                      Decimal(100)).collect()}
            assert rows == {1: Decimal(5), 2: Decimal(5)}  # collapse holds

    def test_mixed_spec_refused(self, spark, tmp_path):
        bad = ProjectionSpec("bad", ("cat",), {"n": ("count", "cat")},
                             ("value",))
        cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10,
                              projections=(bad,),
                              key_col="key", ts_col="ts_us")
        with pytest.raises(ValueError, match="mutually exclusive"):
            SparkMergeTree(spark, str(tmp_path / "bad"), schema=SCHEMA,
                           config=cfg)

    def test_ddl_sort_projection(self, spark, tmp_path):
        from clickhouse_mergetree_spark.engine.ddl import execute_ddl
        cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10,
                              key_col="key", ts_col="ts_us")
        with SparkMergeTree(spark, str(tmp_path / "ddl"), schema=SCHEMA,
                            config=cfg) as t:
            t.insert_rows([(k, 1000 + k, "a", Decimal(k))
                           for k in range(30)])
            t.flush()
            execute_ddl(t, "ALTER TABLE t ADD PROJECTION by_value "
                           "(SELECT * ORDER BY value)")
            execute_ddl(t, "ALTER TABLE t MATERIALIZE PROJECTION by_value")
            df = t.query_col_range("value", Decimal(3), Decimal(7))
            assert _reads_proj(df, "by_value") and df.count() == 5


def test_failed_projection_build_no_orphans_error_at_drain(table,
                                                           monkeypatch):
    """r14 deferred-build contract: the projection build runs as a
    background job AFTER the part commits, so a build failure no longer
    un-commits the insert — the flush succeeds, the error surfaces at
    the next drain point, the part stays committed WITHOUT a projection
    entry (readers fall back to its raw rows), and the failed build
    leaves no half-written projection dirs on disk (the r11 no-orphans
    invariant, restated for the deferred path)."""
    import os

    base = table.base_path
    n_parts = len(table.manifest.parts)
    proj_before = {d for d in os.listdir(base) if "_proj_" in d}

    def boom(df, spec):
        raise RuntimeError("projection build exploded")

    monkeypatch.setattr(type(table), "_apply_projection",
                        staticmethod(boom))
    table.insert_rows([(99, 9999, "a", Decimal(1))])
    table.flush()  # commits the part; the build job fails in background
    with pytest.raises(RuntimeError, match="projection build exploded"):
        table.wait_for_index_builds()
    # the part IS committed (data is durable), with no projection claim
    assert len(table.manifest.parts) == n_parts + 1
    victim = table.manifest.parts[-1]
    assert not (victim.proj_paths or {})
    # and no half-written projection dirs leaked for the failed build
    proj_after = {d for d in os.listdir(base) if "_proj_" in d}
    assert proj_after == proj_before
    # reads stay consistent: the new row serves from raw rows
    monkeypatch.undo()
    assert table.query_all().filter("key = 99").count() == 1


def test_drop_projection_refuses_a_declared_projection(table, spark):
    """DROP PROJECTION covers projections added by ALTER. A projection the
    constructor declares raises KeyError, keeps its files, and is still
    declared after a reopen with the same config."""
    with pytest.raises(KeyError, match="declared"):
        table.drop_projection(SPEC.name)
    assert [s.name for s in table.config.projections] == [SPEC.name]
    assert all(SPEC.name in (p.proj_paths or {})
               for p in table.manifest.parts)
    table.close()
    r = SparkMergeTree(spark, table.base_path, schema=SCHEMA,
                       config=MergeTreeConfig(
                           memtable_flush_threshold=10**12, max_parts=10,
                           projections=(SPEC,),
                           key_col="key", ts_col="ts_us"))
    assert [s.name for s in r.config.projections] == [SPEC.name]
    r.close()
