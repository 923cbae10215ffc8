"""Mutation + schema-evolution suite (ClickHouse ALTER analogs — extension).

Covers delete/update part-rewrite semantics, pruning-hint behavior
(untouched parts are not even opened — checked via part identity), the
metadata-only whole-part delete, ALTER ADD COLUMN lazy defaults across
reads/merges, and evolution replay on reopen.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import MergeTreeConfig, SparkMergeTree

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
    # two disjoint key-band parts: [0,50) and [50,100)
    t.insert_rows([(k, 1000 + k, float(k)) for k in range(50)])
    t.flush()
    t.insert_rows([(k, 1000 + k, float(k)) for k in range(50, 100)])
    t.flush()
    return t


def test_delete_where_prunes_untouched_parts(spark, base_path):
    with _fresh(spark, base_path) as t:
        low_part_ids = {p.part_id for p in t.manifest.prune(0, 49)}
        r = t.delete_where(F.col("key") >= 90, key_range=(90, 10**9))
        assert r == {"parts_scanned": 1, "parts_rewritten": 1,
                     "rows_affected": 10}
        # the low part was outside the hint: same physical part, untouched
        assert {p.part_id for p in t.manifest.prune(0, 49)} == low_part_ids
        keys = {x["key"] for x in t.query_all().collect()}
        assert keys == set(range(90))


def test_delete_without_hint_scans_all_but_rewrites_matching(spark, base_path):
    with _fresh(spark, base_path) as t:
        r = t.delete_where(F.col("key") % 2 == 0)
        assert r["parts_scanned"] == 2 and r["parts_rewritten"] == 2
        assert r["rows_affected"] == 50
        assert t.query_all().count() == 50


def test_update_where_rewrites_only_matching_parts(spark, base_path):
    with _fresh(spark, base_path) as t:
        r = t.update_where(F.col("key") < 5, {"value": F.col("value") * 10},
                           key_range=(0, 4))
        assert r == {"parts_scanned": 1, "parts_rewritten": 1,
                     "rows_affected": 5}
        got = {x["key"]: x["value"] for x in t.query_all().collect()}
        assert got[3] == 30.0 and got[7] == 7.0 and len(got) == 100


def test_whole_part_delete_is_metadata_only(spark, base_path):
    with _fresh(spark, base_path) as t:
        before_ids = {p.part_id for p in t.manifest.parts}
        r = t.delete_where(F.col("key") >= 50, key_range=(50, 10**9))
        assert r["parts_rewritten"] == 1 and r["rows_affected"] == 50
        # no new part id allocated: the victim was dropped, not rewritten
        assert {p.part_id for p in t.manifest.parts} < before_ids
        assert t.query_all().count() == 50


def test_int_partition_hint_reaches_its_parts(spark, base_path):
    """Partition hints compare as str(value) — the form flush tags parts
    with — so an int partition value prunes to its parts instead of
    matching none of them."""
    schema = T.StructType([*SCHEMA.fields,
                           T.StructField("b", T.IntegerType(), True)])
    cfg = MergeTreeConfig(**{**CFG, "partition_col": "b"})
    with SparkMergeTree(spark, base_path, schema=schema, config=cfg) as t:
        t.insert_rows([(k, 1000 + k, float(k), k % 2) for k in range(20)])
        t.flush()
        assert len(t.parts_in_partition(1)) == 1
        r = t.delete_where(F.col("b") == 1, partition=1)
        assert r["parts_scanned"] == 1 and r["rows_affected"] == 10
        assert t.query_partition(1).count() == 0
        r = t.update_where(F.col("key") < 4, {"value": F.lit(-1.0)},
                           partition=0)
        assert r["parts_scanned"] == 1 and r["rows_affected"] == 2
        r = t.clear_column("value", partition=0)
        assert r == {"parts_marked": 1, "cells_cleared": 10}
        assert {x["value"] for x in t.query_all().collect()} == {None}


def test_update_sorting_key_rejected(spark, base_path):
    with _fresh(spark, base_path) as t:
        with pytest.raises(ValueError, match="sorting/partition"):
            t.update_where(F.lit(True), {"key": F.lit(0)})
        with pytest.raises(ValueError, match="unknown column"):
            t.update_where(F.lit(True), {"nope": F.lit(0)})


def test_mutation_covers_buffered_rows(spark, base_path):
    with _fresh(spark, base_path) as t:
        t.insert_rows([(200, 2000, 1.0)])  # buffered, not flushed
        r = t.delete_where(F.col("key") == 200, key_range=(200, 200))
        assert r["rows_affected"] == 1
        assert t.query_all().filter(F.col("key") == 200).count() == 0


def test_null_predicate_rows_survive_delete(spark, base_path):
    with SparkMergeTree(spark, base_path, schema=SCHEMA,
                        config=MergeTreeConfig(**CFG)) as t:
        t.insert_rows([(1, 1000, None), (2, 2000, 5.0)])
        t.flush()
        # value > 1 is NULL for key 1 → SQL WHERE semantics: keep it
        r = t.delete_where(F.col("value") > 1)
        assert r["rows_affected"] == 1
        assert {x["key"] for x in t.query_all().collect()} == {1}


def test_add_column_lazy_default_and_merge_materialization(spark, base_path):
    with _fresh(spark, base_path) as t:
        t.add_column("src", "string", default="legacy")
        t.insert_batch(spark.createDataFrame(
            [(200, 2000, 2.0, "new")], t.schema), row_count=1)
        t.flush()
        got = {x["key"]: x["src"] for x in t.query_all().collect()}
        assert got[0] == "legacy" and got[200] == "new"
        # merge everything into one part: defaults become physical
        t.config.max_parts = 1
        t.optimize()
        assert t.part_count() == 1
        part = t.manifest.parts[0]
        assert part.columns == ["key", "ts_us", "value", "src"]
        got2 = {x["key"]: x["src"] for x in t.query_all().collect()}
        assert got2 == got


def test_add_column_null_default(spark, base_path):
    with _fresh(spark, base_path) as t:
        t.add_column("note", "string")  # default None → NULL
        vals = {x["note"] for x in t.query_all().collect()}
        assert vals == {None}


def test_evolution_replays_on_reopen(spark, base_path):
    with _fresh(spark, base_path) as t:
        t.add_column("src", "string", default="legacy")
    # reopen with the ORIGINAL schema: manifest replays the ALTER
    with SparkMergeTree(spark, base_path, schema=SCHEMA,
                        config=MergeTreeConfig(**CFG)) as t2:
        assert [f.name for f in t2.schema.fields] == \
            ["key", "ts_us", "value", "src"]
        assert {x["src"] for x in t2.query_all().collect()} == {"legacy"}


def test_duplicate_add_column_rejected(spark, base_path):
    with _fresh(spark, base_path) as t:
        with pytest.raises(ValueError, match="already exists"):
            t.add_column("value", "double")


def test_mutation_then_ttl_and_snapshot_interplay(spark, base_path):
    """Mutations compose with snapshots: a retained pre-mutation version
    stays readable until vacuumed."""
    with _fresh(spark, base_path, snapshot_retention=4) as t:
        v0 = t.current_version()
        t.delete_where(F.col("key") >= 50, key_range=(50, 10**9))
        assert t.query_all().count() == 50
        assert t.query_at_version(v0).count() == 100


def test_mutation_ledger_and_reopen(spark):
    """system.mutations: every mutation kind logs one crash-consistent
    ledger row; lw_delete flips is_done at materialization; the ledger
    survives reopen."""
    import shutil as _sh
    import tempfile as _tf

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from clickhouse_mergetree_spark.engine import (MergeTreeConfig,
                                                   SparkMergeTree)

    schema = T.StructType([
        T.StructField("key", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("v", T.LongType(), True),
    ])
    base = _tf.mkdtemp(prefix="mutledger_")
    t = SparkMergeTree(spark, base, schema=schema,
                       config=MergeTreeConfig(
                           memtable_flush_threshold=10**9, max_parts=100,
                           key_col="key", ts_col="ts"))
    try:
        t.insert_rows([(k, k, k) for k in range(10)])
        t.flush()
        t.delete_where(F.col("key") == 9)
        t.update_where(F.col("key") == 1, {"v": F.lit(-1)})
        t.lightweight_delete("key = 2")
        rows = {r["mutation_id"]: r for r in t.system_mutations().collect()}
        assert [rows[i]["kind"] for i in (1, 2, 3)] == [
            "delete", "update", "lw_delete"]
        assert rows[1]["rows_affected"] == 1
        assert "key" in rows[1]["command"] and "9" in rows[1]["command"]
        assert rows[3]["command"] == "key = 2"
        assert rows[3]["is_done"] is False
        assert rows[3]["rows_affected"] is None
        t.materialize_deletes()
        rows = {r["mutation_id"]: r for r in t.system_mutations().collect()}
        assert rows[3]["is_done"] is True
        assert rows[4]["kind"] == "apply_mask"
        assert rows[4]["rows_affected"] == 1
        # ledger is manifest state: reopen preserves all four rows
        t.close()
        t = SparkMergeTree(spark, base, schema=schema,
                           config=MergeTreeConfig(
                               memtable_flush_threshold=10**9,
                               max_parts=100, key_col="key", ts_col="ts"))
        assert t.system_mutations().count() == 4
    finally:
        t.close()
        _sh.rmtree(base, ignore_errors=True)
