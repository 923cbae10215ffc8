"""system.query_log analog: plan-time read ledger.

Every read planned against a table instance appends one row — its kind
and its pruning outcome (live parts vs parts scheduled). These tests pin
the kind taxonomy across all eight read kinds, the pruning numbers for
reads with deterministic pruning, that each pruned read scans exactly the
parts its ``parts_for_*`` twin reports, and that the ledger is
session-local (reopen starts empty).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import MergeTreeConfig, SparkMergeTree

SCHEMA = T.StructType([
    T.StructField("key", T.LongType(), False),
    T.StructField("ts_us", T.LongType(), False),
    T.StructField("tag", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
])


@pytest.fixture()
def table(spark):
    base = tempfile.mkdtemp(prefix="qlog_tbl_")
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=100,
                          key_col="key", ts_col="ts_us",
                          partition_col="tag", minmax_cols=("ts_us",),
                          token_bloom_cols=("text",),
                          ngram_bloom_cols=("text",),
                          set_index_cols=(("tag", 8),))
    t = SparkMergeTree(spark, base, schema=SCHEMA, config=cfg)
    # two parts, disjoint in key, ts, tag and text:
    # [1..2] ts 10-20 "hot" and [100..101] ts 30-40 "cold"
    t.insert_rows([(1, 10, "hot", "alpha beta"), (2, 20, "hot", "gamma")])
    t.flush()
    t.insert_rows([(100, 30, "cold", "zebra"), (101, 40, "cold", "delta")])
    t.flush()
    yield t
    t.close()
    shutil.rmtree(base, ignore_errors=True)


def test_kinds_and_pruning_are_logged(table):
    table.query(1, 2)                        # prunes to part 1
    table.query_key(100)                     # prunes to part 2
    table.query_all()                        # scans both
    table.query_token("text", "zebra")       # bloom prunes to part 2
    table.query_in("tag", ["hot"])           # set index prunes to part 1
    table.query_like("text", "EBR")          # n-gram bloom: part 2
    table.query_col_range("ts_us", 30, 40)   # minmax prunes to part 2
    table.query_partition("hot")             # partition prunes to part 1
    log = {e["seq"]: e for e in table.system_query_log().collect()}
    assert [log[i]["kind"] for i in range(1, 9)] == [
        "range_scan", "point_lookup", "full_scan", "token_search",
        "in_scan", "like_search", "col_range_scan", "partition_scan"]
    assert all(log[i]["parts_total"] == 2 for i in range(1, 9))
    assert [log[i]["parts_scanned"] for i in range(1, 9)] == [
        1, 1, 2, 1, 1, 1, 1, 1]
    # each pruned read scans exactly what its introspection twin reports
    twins = {
        2: table.parts_for_key(100),
        4: table.parts_for_token("text", "zebra"),
        5: table.parts_for_in("tag", ["hot"]),
        6: table.parts_for_like("text", "EBR"),
        7: table.parts_for_col_range("ts_us", 30, 40),
        8: table.parts_in_partition("hot"),
    }
    for seq, parts in twins.items():
        assert log[seq]["parts_scanned"] == len(parts), log[seq]


def test_log_is_plan_time_and_session_local(table, spark):
    df = table.query(1, 2)
    # logged at plan time, before any action runs
    assert [e["kind"] for e in table.system_query_log().collect()] == [
        "range_scan"]
    assert df.count() == 2  # executing it adds nothing new
    assert table.system_query_log().count() == 1
    # reopen: ledger starts empty (session state, not table state)
    r = SparkMergeTree(spark, table.base_path, schema=SCHEMA,
                       config=table.config)
    assert r.system_query_log().count() == 0
