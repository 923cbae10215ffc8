"""TTL GROUP BY — rollup-on-expiry (``expire_rollup``).

Pins: young rows survive verbatim, expired rows collapse to one rollup
row per key (sum/min/max aggregates, other columns from the newest
expired row, ts = max expired ts), untouched parts are never replaced,
per-partition execution, re-rollup stability, and argument refusals.
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
    T.StructField("label", T.StringType(), True),
    T.StructField("hits", T.LongType(), True),
])

CFG = dict(memtable_flush_threshold=10**9, max_parts=100,
           key_col="key", ts_col="ts")


@pytest.fixture()
def base():
    d = tempfile.mkdtemp(prefix="ttlgb_tbl_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def table(spark, base):
    t = SparkMergeTree(spark, base, schema=SCHEMA,
                       config=MergeTreeConfig(**CFG))
    yield t
    t.close()


def test_rollup_basic(table):
    # keys 0/1, ts 0..9 expired; ts 100.. young
    table.insert_rows([(k, ts, f"L{k}_{ts}", 1)
                       for k in (0, 1) for ts in range(10)])
    table.flush()
    table.insert_rows([(0, 100, "young", 5)])
    table.flush()
    young_part = [p.part_id for p in table.manifest.parts
                  if p.min_ts >= 50]
    stats = table.expire_rollup(50, {"hits": "sum"})
    assert stats["parts_replaced"] == 1           # only the old part
    assert stats["rows_before"] == 20 and stats["rows_after"] == 2
    # untouched young part keeps its id
    assert young_part[0] in {p.part_id for p in table.manifest.parts}
    rows = {(r["key"], r["ts"]): r for r in table.query_all().collect()}
    assert set(rows) == {(0, 9), (1, 9), (0, 100)}
    assert rows[(0, 9)]["hits"] == 10             # summed
    assert rows[(0, 9)]["label"] == "L0_9"        # from max-ts expired row
    assert rows[(0, 100)]["hits"] == 5            # young untouched


def test_rollup_min_max(table):
    table.insert_rows([(7, ts, "x", ts * 10) for ts in range(1, 6)])
    table.flush()
    table.expire_rollup(1000, {"hits": "max"})
    [r] = table.query_all().collect()
    assert (r["key"], r["ts"], r["hits"]) == (7, 5, 50)


def test_rollup_is_stable_under_reapply(table):
    table.insert_rows([(3, ts, "a", 2) for ts in range(4)])
    table.flush()
    table.expire_rollup(100, {"hits": "sum"})
    first = [tuple(r) for r in table.query_all().collect()]
    table.expire_rollup(100, {"hits": "sum"})     # re-rolls the rollup row
    assert [tuple(r) for r in table.query_all().collect()] == first
    assert first == [(3, 3, "a", 8)]


def test_rollup_respects_partitions(spark, base):
    schema = T.StructType([
        T.StructField("key", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("bucket", T.StringType(), True),
        T.StructField("hits", T.LongType(), True),
    ])
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=100,
                          key_col="key", ts_col="ts",
                          partition_col="bucket")
    with SparkMergeTree(spark, base, schema=schema, config=cfg) as t:
        t.insert_rows([(k, ts, f"b{k % 2}", 1)
                       for k in range(4) for ts in range(5)])
        t.flush()
        stats = t.expire_rollup(100, {"hits": "sum"})
        assert stats["parts_replaced"] == 2       # one per partition
        # one part per partition remains, each holding its own rollups
        assert sorted(p.partition for p in t.manifest.parts) == ["b0", "b1"]
        rows = {(r["key"], r["bucket"]): r["hits"]
                for r in t.query_all().collect()}
        assert rows == {(0, "b0"): 5, (2, "b0"): 5,
                        (1, "b1"): 5, (3, "b1"): 5}


def test_rollup_keeps_insert_spans_disjoint(table):
    # parts in insert order hold ts 1, 100, 2, 200: the rollup rewrites the
    # run from the first to the last affected part, young part 2 included,
    # so its output's span (1, 3) overlaps no live span; part 4 lies
    # outside the run and keeps its id and span
    for rows in ([(0, 1, "a", 1), (1, 1, "a", 7)], [(0, 100, "young", 5)],
                 [(0, 2, "b", 3)], [(1, 200, "later", 9)]):
        table.insert_rows(rows)
        table.flush()
    stats = table.expire_rollup(50, {"hits": "sum"})
    assert stats["parts_replaced"] == 3
    spans = sorted(p.blocks for p in table.manifest.parts)
    assert spans == [(1, 3), (4, 4)]
    assert 4 in {p.part_id for p in table.manifest.parts}
    # one rollup row per key, as when the affected parts are rolled together
    assert sorted(tuple(r) for r in table.query_all().collect()) == [
        (0, 2, "b", 4), (0, 100, "young", 5),
        (1, 1, "a", 7), (1, 200, "later", 9)]


def test_rollup_collapses_duplicates_first(table):
    # duplicate (key, ts) rows across unmerged parts: a read hides them
    # ((key, ts) dedup), so the rollup must NOT double-count them
    table.insert_rows([(5, ts, "a", 10) for ts in range(3)])
    table.flush()
    table.insert_rows([(5, ts, "b", 99) for ts in range(3)])  # dupes
    table.flush()
    assert table.query_all().count() == 3          # reads dedup
    table.expire_rollup(100, {"hits": "sum"})
    [r] = table.query_all().collect()
    assert r["key"] == 5 and r["ts"] == 2
    assert r["hits"] in (30, 297)  # one part's rows win wholesale...
    # ...and the sum equals 3x the surviving duplicate's value — never
    # the double-counted 30 + 297 mix
    assert r["hits"] != 327


def test_rollup_refusals(table):
    table.insert_rows([(1, 1, "x", 1)])
    with pytest.raises(ValueError, match="unknown"):
        table.expire_rollup(10, {"nope": "sum"})
    with pytest.raises(ValueError, match="sorting key"):
        table.expire_rollup(10, {"ts": "sum"})
    with pytest.raises(ValueError, match="unsupported"):
        table.expire_rollup(10, {"hits": "avg"})
