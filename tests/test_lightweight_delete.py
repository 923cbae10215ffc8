"""Lightweight DELETE suite (ClickHouse ``DELETE FROM`` 23.3+ analog).

Contract under test: the delete is metadata-only and immediate (no part
is rewritten, rows vanish from reads), applies only to data present at
the call (later inserts survive even when matching), is SQL-WHERE
null-semantic, persists across reopen, is materialized by merges /
mutations / OPTIMIZE (after which the entry is garbage-collected and the
physical rows are gone), is version-consistent under time travel, makes
covering projections fall back to raw rows, and is refused loudly by the
physical-read connector until materialized.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import MergeTreeConfig, SparkMergeTree
from clickhouse_mergetree_spark.engine.merge_tree import ProjectionSpec

SCHEMA = T.StructType([
    T.StructField("key", T.LongType(), False),
    T.StructField("ts_us", T.LongType(), False),
    T.StructField("value", T.DoubleType(), True),
])

CFG = dict(memtable_flush_threshold=10**12, max_parts=10,
           key_col="key", ts_col="ts_us")


@pytest.fixture()
def base_path(tmp_path):
    return str(tmp_path / "table")


def _fresh(spark, base_path, **over):
    t = SparkMergeTree(spark, base_path, schema=SCHEMA,
                       config=MergeTreeConfig(**{**CFG, **over}))
    t.insert_rows([(k, 1000 + k, float(k)) for k in range(50)])
    t.flush()
    t.insert_rows([(k, 1000 + k, float(k)) for k in range(50, 100)])
    t.flush()
    return t


def _part_dirs(t):
    return {p.part_id: p.path for p in t.manifest.parts}


def test_delete_is_immediate_and_metadata_only(spark, base_path):
    with _fresh(spark, base_path) as t:
        before = _part_dirs(t)
        mtimes = {pid: os.path.getmtime(path) for pid, path in before.items()}
        r = t.lightweight_delete("key >= 90")
        assert r["parts_masked"] == 2
        # same physical parts, untouched on disk
        after = _part_dirs(t)
        assert after == before
        assert all(os.path.getmtime(p) == mtimes[pid]
                   for pid, p in after.items())
        # but the rows are gone from every read path
        assert t.query_all().count() == 90
        assert t.query(85, 99).count() == 5  # 85..89
        assert t.query_key(95).count() == 0
        # physical row_count metadata unchanged (ClickHouse parts keep
        # counting deleted rows until materialization)
        assert sum(p.row_count for p in t.manifest.parts) == 100


def test_later_inserts_survive_matching_predicate(spark, base_path):
    with _fresh(spark, base_path) as t:
        t.lightweight_delete("key >= 90")
        t.insert_rows([(95, 2000, 95.0), (99, 2000, 99.0)])
        t.flush()
        keys = sorted(x["key"] for x in t.query_all().collect())
        assert keys == list(range(90)) + [95, 99]


def test_null_predicate_keeps_row(spark, base_path):
    t = SparkMergeTree(spark, base_path, schema=SCHEMA,
                       config=MergeTreeConfig(**CFG))
    with t:
        t.insert_rows([(1, 1000, 1.0), (2, 1000, None), (3, 1000, 3.0)])
        t.flush()
        t.lightweight_delete("value > 1.5")  # NULL > 1.5 is NULL -> kept
        keys = sorted(x["key"] for x in t.query_all().collect())
        assert keys == [1, 2]


def test_unknown_column_rejected_before_commit(spark, base_path):
    with _fresh(spark, base_path) as t:
        with pytest.raises(Exception):
            t.lightweight_delete("no_such_col = 1")
        assert not t.manifest.table_meta.get("lw_deletes")
        assert t.query_all().count() == 100


def test_covers_buffered_rows(spark, base_path):
    with _fresh(spark, base_path) as t:
        t.insert_rows([(200, 3000, 200.0)])  # buffered, not flushed
        t.lightweight_delete("key = 200")
        assert t.query_all().filter(F.col("key") == 200).count() == 0


def test_persists_across_reopen(spark, base_path):
    with _fresh(spark, base_path) as t:
        t.lightweight_delete("key < 10")
    with SparkMergeTree(spark, base_path, schema=SCHEMA,
                        config=MergeTreeConfig(**CFG)) as t2:
        assert t2.query_all().count() == 90
        assert t2.query(0, 20).count() == 11  # 10..20


def test_optimize_materializes_and_gcs(spark, base_path):
    with _fresh(spark, base_path, max_parts=1) as t:
        t.lightweight_delete("key % 2 = 0")
        assert t.query_all().count() == 50
        t.optimize()
        # physically clean: part metadata now counts only surviving rows
        assert sum(p.row_count for p in t.manifest.parts) == 50
        # entry garbage-collected (no live or tombstoned part references it)
        assert not t.manifest.table_meta.get("lw_deletes")
        assert t.query_all().count() == 50
        # and rows inserted after the (now-dead) delete still match freely
        t.insert_rows([(2, 9000, 2.0)])
        t.flush()
        assert t.query_key(2).count() == 1


def test_mutation_materializes_masks(spark, base_path):
    with _fresh(spark, base_path) as t:
        t.lightweight_delete("key >= 95")
        # an UPDATE touching only the low part rewrites just that part:
        # the mask entry must SURVIVE for the untouched high part
        t.update_where(F.col("key") < 10, {"value": F.lit(0.0)})
        assert t.manifest.table_meta.get("lw_deletes")
        assert t.query_all().count() == 95
        # an UPDATE matching rows in every part rewrites them all ->
        # masks materialize and the entry is garbage-collected
        t.update_where(F.col("value") >= 0.0, {"value": F.col("value") + 0.0})
        assert not t.manifest.table_meta.get("lw_deletes")
        assert sum(p.row_count for p in t.manifest.parts) == 95
        assert t.query_all().count() == 95


def test_time_travel_is_version_consistent(spark, base_path):
    with _fresh(spark, base_path, snapshot_retention=10) as t:
        v_before = t.current_version()
        t.lightweight_delete("key >= 50")
        v_after = t.current_version()
        assert v_after > v_before  # the delete is a versioned commit
        assert t.query_at_version(v_before).count() == 100
        assert t.query_at_version(v_after).count() == 50
        assert t.query_all().count() == 50


def test_projection_falls_back_until_materialized(spark, base_path):
    spec = ProjectionSpec("by_bucket", ("value",),
                          {"n": ("count", "key"), "s": ("sum", "key")})
    t = SparkMergeTree(
        spark, base_path, schema=SCHEMA,
        config=MergeTreeConfig(**CFG, projections=(spec,)))
    with t:
        t.insert_rows([(k, 1000 + k, float(k % 3)) for k in range(60)])
        t.flush()
        t.lightweight_delete("key >= 30")
        got = {x["value"]: (x["n"], x["s"])
               for x in t.query_grouped(("value",), spec.aggs).collect()}
        # masked parts must not serve stale projection partials
        expect = {}
        for k in range(30):
            n, s = expect.get(float(k % 3), (0, 0))
            expect[float(k % 3)] = (n + 1, s + k)
        assert got == expect
        t.optimize()
        got2 = {x["value"]: (x["n"], x["s"])
                for x in t.query_grouped(("value",), spec.aggs).collect()}
        assert got2 == expect


def test_connector_refuses_unmaterialized_masks(spark, base_path):
    from clickhouse_mergetree_spark.sources import register_mergetree

    register_mergetree(spark)
    with _fresh(spark, base_path) as t:
        t.lightweight_delete("key >= 90")
        with pytest.raises(Exception, match="lightweight"):
            (spark.read.format("mergetree").option("path", base_path)
             .load().count())
        r = t.materialize_deletes()
        # keys 0-49 part is untouched by the mask (verified clean);
        # the 50-99 part is rewritten without its 10 masked rows
        assert r == {"parts_rewritten": 1, "parts_clean": 1,
                     "rows_removed": 10}
        assert not t.manifest.table_meta.get("lw_deletes")
        assert (spark.read.format("mergetree").option("path", base_path)
                .load().count()) == 90


def test_materialize_deletes_drops_fully_deleted_part(spark, base_path):
    with _fresh(spark, base_path) as t:
        t.lightweight_delete("key >= 50")  # entire second part
        r = t.materialize_deletes()
        assert r == {"parts_rewritten": 1, "parts_clean": 1,
                     "rows_removed": 50}
        assert len(t.manifest.parts) == 1  # metadata-only drop, no write
        assert t.query_all().count() == 50


def test_optimize_final_single_part_and_materialized(spark, base_path):
    # OPTIMIZE FINAL: merges to ONE part regardless of max_parts (10 here,
    # so plain optimize() would refuse), materializing lw masks
    with _fresh(spark, base_path) as t:
        t.insert_rows([(k, 1000 + k, float(k)) for k in range(100, 120)])
        t.flush()
        assert len(t.manifest.parts) == 3
        t.lightweight_delete("key >= 110")
        t.optimize()  # non-final: under max_parts, must be a no-op
        assert len(t.manifest.parts) == 3
        t.optimize(final=True)
        assert len(t.manifest.parts) == 1
        assert not t.manifest.table_meta.get("lw_deletes")
        assert t.manifest.parts[0].row_count == 110
        assert t.query_all().count() == 110


def test_optimize_final_respects_partitions(spark, tmp_path):
    schema = T.StructType([
        T.StructField("key", T.LongType(), False),
        T.StructField("ts_us", T.LongType(), False),
        T.StructField("bucket", T.StringType(), True),
    ])
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10,
                          key_col="key", ts_col="ts_us",
                          partition_col="bucket")
    with SparkMergeTree(spark, str(tmp_path / "pt"), schema=schema,
                        config=cfg) as t:
        for r in range(3):
            t.insert_rows([(100 * r + k, 1000 + k, f"b{k % 2}")
                           for k in range(20)])
            t.flush()
        assert len(t.manifest.parts) == 6  # 3 flushes x 2 partitions
        t.optimize(final=True)
        # FINAL never crosses partitions: one part per partition value
        assert sorted(p.partition for p in t.manifest.parts) == ["b0", "b1"]
        assert t.query_all().count() == 60


def test_column_ttl_rewrite_collects_satisfied_entry(spark, base_path):
    # expire_columns reads straddling parts through the masked path, so
    # its rewrites materialize the delete like any other rewrite: once
    # every masked part is rewritten the entry is collected, and the
    # mutation is reported done (nothing left for KILL to cancel)
    with SparkMergeTree(spark, base_path, schema=SCHEMA,
                        config=MergeTreeConfig(**CFG)) as t:
        for lo in (0, 50):
            t.insert_rows([(lo + k, 1000 + k, float(k)) for k in range(50)])
            t.flush()
        t.lightweight_delete("key % 2 = 0")
        r = t.expire_columns({"value": 1025})
        assert r["parts_rewritten"] == 2
        assert not t.manifest.table_meta.get("lw_deletes")
        assert sum(p.row_count for p in t.manifest.parts) == 50
        (m,) = t.system_mutations().collect()
        assert m["kind"] == "lw_delete" and m["is_done"]
        with pytest.raises(ValueError, match="already done"):
            t.kill_mutation(m["mutation_id"])
        assert t.query_all().count() == 50
        assert t.query_all().filter(F.col("value").isNull()).count() == 24
