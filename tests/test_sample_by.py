"""SAMPLE BY — deterministic value-keyed sampling in the engine read path.

Pins: determinism across calls, nested samples (bigger fraction ⊇
smaller), disjoint offsets partitioning the table, whole-entity
membership (all rows of a key in or out together), commutation with the
(key, ts) dedup, the sample filter sitting BELOW the dedup shuffle in
the physical plan, and argument refusals.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import MergeTreeConfig, SparkMergeTree

SCHEMA = T.StructType([
    T.StructField("key", T.LongType(), False),
    T.StructField("ts", T.LongType(), False),
    T.StructField("value", T.DoubleType(), True),
])

CFG = dict(memtable_flush_threshold=10**9, max_parts=100,
           key_col="key", ts_col="ts", sample_col="key")


@pytest.fixture()
def base():
    d = tempfile.mkdtemp(prefix="sampleby_tbl_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def table(spark, base):
    t = SparkMergeTree(spark, base, schema=SCHEMA,
                       config=MergeTreeConfig(**CFG))
    t.insert_rows([(k, ts, float(k)) for k in range(200)
                   for ts in range(3)])   # 3 rows per key
    t.flush()
    yield t
    t.close()


def _keys(df):
    return {r["key"] for r in df.select("key").distinct().collect()}


def test_sample_is_deterministic(table):
    a = _keys(table.query_sample(0.25))
    b = _keys(table.query_sample(0.25))
    assert a == b and 0 < len(a) < 200


def test_samples_nest(table):
    assert _keys(table.query_sample(0.1)) <= _keys(table.query_sample(0.2))
    assert _keys(table.query_sample(0.2)) <= _keys(table.query_sample(0.5))


def test_disjoint_offsets_partition_the_table(table):
    slices = [_keys(table.query_sample(0.25, offset=o))
              for o in (0.0, 0.25, 0.5, 0.75)]
    assert set().union(*slices) == set(range(200))
    for i in range(4):
        for j in range(i + 1, 4):
            assert not (slices[i] & slices[j])


def test_whole_entity_membership(table):
    out = table.query_sample(0.3)
    per_key = {r["key"]: r["n"] for r in
               out.groupBy("key").count().withColumnRenamed(
                   "count", "n").collect()}
    # every sampled key brings ALL of its (deduped) rows: 3 ts each
    assert per_key and all(n == 3 for n in per_key.values())


def test_sample_commutes_with_dedup(table):
    # duplicate (key, ts) rows: sample-then-dedup must equal the deduped
    # table filtered to the sampled keys
    table.insert_rows([(k, 0, float(k) + 100.0) for k in range(200)])
    table.flush()
    sampled = table.query_sample(0.25)
    keys = _keys(sampled)
    want = [r for r in table.query_all().collect() if r["key"] in keys]
    assert sorted(map(tuple, sampled.collect())) == sorted(map(tuple, want))


def test_sample_filter_below_dedup_shuffle(spark, base, table):
    # a table that fits one part file reads in one task, with no shuffle:
    # the md5 sample filter must still run below (before) the dedup
    plan = (table.query_sample(0.25)
            ._jdf.queryExecution().executedPlan().toString())
    assert "md5" in plan and "Exchange" not in plan
    assert plan.index("md5") > plan.rfind("Aggregate") > 0
    # rows_per_file below the table's 600 rows keeps the parallel plan
    t = SparkMergeTree(spark, base + "_wide", schema=SCHEMA,
                       config=MergeTreeConfig(**CFG, rows_per_file=100))
    try:
        t.insert_rows([(k, ts, float(k)) for k in range(200)
                       for ts in range(3)])
        t.flush()
        plan = (t.query_sample(0.25)
                ._jdf.queryExecution().executedPlan().toString())
        # printed plans are root-first: the md5 sample filter must sit
        # BELOW (execute before) the dedup/sort Exchange, shrinking the
        # shuffle
        assert "md5" in plan and "Exchange" in plan
        assert plan.index("md5") > plan.index("Exchange")
        assert plan.index("md5") > max(plan.rfind("Aggregate"),
                                       plan.rfind("Exchange"))
        assert _keys(t.query_sample(0.25)) == _keys(table.query_sample(0.25))
    finally:
        t.close()
        shutil.rmtree(base + "_wide", ignore_errors=True)


def test_sample_refusals(spark, base):
    t = SparkMergeTree(spark, base, schema=SCHEMA,
                       config=MergeTreeConfig(**{**CFG, "sample_col": None}))
    t.insert_rows([(1, 1, 1.0)])
    with pytest.raises(ValueError, match="SAMPLE BY"):
        t.query_sample(0.5)
    t.close()
    t2 = SparkMergeTree(
        spark, base, schema=SCHEMA,
        config=MergeTreeConfig(**{**CFG, "sample_col": "value"}))
    with pytest.raises(ValueError, match="sorting key"):
        t2.query_sample(0.5)
    with pytest.raises(ValueError, match="fraction"):
        t2.config.sample_col = "key"
        t2.query_sample(0.0)
    with pytest.raises(ValueError, match="fraction"):
        t2.query_sample(0.5, offset=0.6)
    t2.close()
