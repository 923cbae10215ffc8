"""mergetree Python Data Source connector tests.

Covers the full connector surface: schema discovery, round-trip equality
with the engine's own query path, filter pushdown → manifest part
pruning, manifest-less recovery reads, and the empty-table schema
fallback.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from clickhouse_mergetree_spark.engine import MergeTreeConfig, SparkMergeTree
from clickhouse_mergetree_spark.sources import register_mergetree
from clickhouse_mergetree_spark.sources.mergetree_source import MergeTreeReader


class _Opts(dict):
    def get(self, k, d=None):  # CaseInsensitiveDict stand-in
        return super().get(k, d)


@pytest.fixture(scope="module")
def table(spark):
    """A 3-part table with disjoint key ranges per flush batch."""
    base = tempfile.mkdtemp(prefix="ds_table_")
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10)
    t = SparkMergeTree(spark, base, config=cfg)
    rows = [(f"key_{i:04d}", f"v{i}", i % 7) for i in range(3000)]
    for lo in range(0, 3000, 1000):
        t.insert_rows(rows[lo:lo + 1000])
        t.flush()
    t.close()
    register_mergetree(spark)
    return t


def _scan(spark, t):
    return spark.read.format("mergetree").option("path", t.base_path).load()


def test_schema_discovery(spark, table):
    df = _scan(spark, table)
    assert df.schema.simpleString() == (
        "struct<key:string,value:string,timestamp:bigint>")


def test_full_round_trip(spark, table):
    got = _scan(spark, table)
    assert got.count() == 3000
    expect = table.query_all()
    assert (got.orderBy("key", "timestamp").collect()
            == expect.collect())


def test_filtered_read_matches_engine_query(spark, table):
    got = (
        _scan(spark, table)
        .filter((F.col("key") >= "key_0100") & (F.col("key") <= "key_0199"))
        .orderBy("key", "timestamp")
    )
    expect = table.query("key_0100", "key_0199")
    assert got.collect() == expect.collect()


def test_pushdown_prunes_parts(spark, table):
    from pyspark.sql.datasource import (
        EqualTo, GreaterThanOrEqual, In, LessThanOrEqual)

    r = MergeTreeReader(None, _Opts(path=table.base_path))
    n_all = len(r.partitions())
    assert n_all >= 3  # one file per part at least

    r = MergeTreeReader(None, _Opts(path=table.base_path))
    # range entirely inside the third flush batch
    leftover = list(r.pushFilters([
        GreaterThanOrEqual(("key",), "key_2500"),
        LessThanOrEqual(("key",), "key_2600"),
    ]))
    assert len(leftover) == 2  # every filter handed back to Spark
    assert len(r.partitions()) < n_all

    r = MergeTreeReader(None, _Opts(path=table.base_path))
    list(r.pushFilters([EqualTo(("key",), "key_0001")]))
    assert len(r.partitions()) == 1

    r = MergeTreeReader(None, _Opts(path=table.base_path))
    list(r.pushFilters([In(("key",), ("key_0001", "key_0002"))]))
    assert len(r.partitions()) == 1

    # filters on other columns never prune
    r = MergeTreeReader(None, _Opts(path=table.base_path))
    list(r.pushFilters([EqualTo(("value",), "v1")]))
    assert len(r.partitions()) == n_all


def test_point_filter_bloom_prunes_interleaved_parts(spark):
    """Two parts with INTERLEAVED keys: min/max pruning keeps both for any
    in-range point lookup; the connector's bloom check must drop the part
    that provably lacks the key — and the read must stay correct."""
    from pyspark.sql.datasource import EqualTo

    base = tempfile.mkdtemp(prefix="ds_bloom_")
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10)
    t = SparkMergeTree(spark, base, config=cfg)
    t.insert_rows([(f"key_{i:04d}", "even", 1) for i in range(0, 100, 2)])
    t.flush()
    t.insert_rows([(f"key_{i:04d}", "odd", 1) for i in range(1, 100, 2)])
    t.flush()
    t.close()
    register_mergetree(spark)

    r = MergeTreeReader(None, _Opts(path=base))
    assert len(r.partitions()) == 2
    r = MergeTreeReader(None, _Opts(path=base))
    list(r.pushFilters([EqualTo(("key",), "key_0050")]))
    assert len(r.partitions()) == 1, "bloom did not prune the odd part"

    got = (
        spark.read.format("mergetree").option("path", base).load()
        .filter(F.col("key") == "key_0050").collect()
    )
    assert [(x["key"], x["value"]) for x in got] == [("key_0050", "even")]


def test_disjoint_range_reads_zero_rows(spark, table):
    got = _scan(spark, table).filter(F.col("key") > "key_9999")
    assert got.count() == 0


def test_manifest_less_recovery_read(spark, table):
    # deleting the manifest must not lose data: the source falls back to
    # a part_<id> directory scan (same rule as engine recovery)
    base = tempfile.mkdtemp(prefix="ds_noman_")
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10)
    t = SparkMergeTree(spark, base, config=cfg)
    t.insert_rows([(f"k{i}", "v", i) for i in range(50)])
    t.close()
    os.remove(os.path.join(base, "manifest.json"))
    got = spark.read.format("mergetree").option("path", base).load()
    assert got.count() == 50


def test_empty_table_schema_fallback(spark):
    base = tempfile.mkdtemp(prefix="ds_empty_")
    df = spark.read.format("mergetree").option("path", base).load()
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["key", "value", "timestamp"]


# ---------------------------------------------------------------- writer


def test_write_append_then_engine_reads(spark):
    base = tempfile.mkdtemp(prefix="ds_w1_")
    df = spark.createDataFrame(
        [(f"k{i:03d}", f"v{i}", i) for i in range(200)],
        "key string, value string, timestamp long")
    register_mergetree(spark)
    (df.repartition(4).write.format("mergetree")
     .option("path", base).mode("append").save())

    # one write job = one part, multi-file
    t = SparkMergeTree(spark, base, config=MergeTreeConfig(
        memtable_flush_threshold=10**12))
    assert t.part_count() == 1
    assert t.total_rows() == 200
    got = t.query("k010", "k019")
    assert got.count() == 10

    # second append = second part; engine compaction folds them
    (df.write.format("mergetree").option("path", base)
     .mode("append").save())
    t2 = SparkMergeTree(spark, base, config=MergeTreeConfig(
        memtable_flush_threshold=10**12, max_parts=1))
    assert t2.part_count() == 2
    t2.optimize()
    assert t2.part_count() == 1
    # exact (key, ts) duplicates from the double insert collapse
    assert t2.query_all().count() == 200


def test_write_overwrite_truncates(spark):
    base = tempfile.mkdtemp(prefix="ds_w2_")
    register_mergetree(spark)
    d1 = spark.createDataFrame([("a", "1", 1), ("b", "2", 2)],
                               "key string, value string, timestamp long")
    d2 = spark.createDataFrame([("c", "3", 3)],
                               "key string, value string, timestamp long")
    d1.write.format("mergetree").option("path", base).mode("append").save()
    d2.write.format("mergetree").option("path", base).mode("overwrite").save()
    got = spark.read.format("mergetree").option("path", base).load()
    assert [r.key for r in got.collect()] == ["c"]
    # truncated part dirs are reclaimed
    assert len([d for d in os.listdir(base) if d.startswith("part_")]) == 1


@pytest.mark.parametrize("mode,expected", [("append", 15),
                                           ("overwrite", 5)])
def test_write_commits_a_version(spark, mode, expected):
    """A connector write is a manifest version: time travel to the
    current version reads what a plain read of the table reads."""
    base = tempfile.mkdtemp(prefix="ds_wv_")
    register_mergetree(spark)
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12)
    with SparkMergeTree(spark, base, config=cfg) as t:
        t.insert_rows([(f"a{i}", "v", i) for i in range(10)])
        t.flush()
        before = t.current_version()
    (spark.createDataFrame([(f"b{i}", "v", i) for i in range(5)],
                           "key string, value string, timestamp long")
     .write.format("mergetree").option("path", base).mode(mode).save())
    with SparkMergeTree(spark, base, config=cfg) as t:
        assert t.current_version() == before + 1
        assert t.query_all().count() == expected
        assert t.query_at_version(t.current_version()).count() == expected


def test_write_manifest_stats_drive_pruning(spark):
    base = tempfile.mkdtemp(prefix="ds_w3_")
    register_mergetree(spark)
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(f"k{i:03d}", "v", i) for i in range(lo, lo + 100)],
            "key string, value string, timestamp long")
        df.write.format("mergetree").option("path", base).mode("append").save()
    r = MergeTreeReader(None, _Opts(path=base))
    n_all = len(r.partitions())
    r = MergeTreeReader(None, _Opts(path=base))
    from pyspark.sql.datasource import EqualTo
    list(r.pushFilters([EqualTo(("key",), "k250")]))
    assert len(r.partitions()) < n_all


# ------------------------------------------------------------- streaming


def test_stream_read_incremental_parts(spark):
    """Part ids are streaming offsets: a restarted query with the same
    checkpoint consumes only parts that appeared since the last run."""
    base = tempfile.mkdtemp(prefix="ds_sr_")
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=100)
    t = SparkMergeTree(spark, base, config=cfg)
    t.insert_rows([(f"k{i}", "v", i) for i in range(100)])
    t.flush()
    t.insert_rows([(f"k{i}", "v", i) for i in range(100, 150)])
    t.flush()
    register_mergetree(spark)

    ckpt = tempfile.mkdtemp(prefix="ds_sr_ck_")
    sink = tempfile.mkdtemp(prefix="ds_sr_out_")

    def drain():
        q = (
            spark.readStream.format("mergetree").option("path", base).load()
            .writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.read.parquet(sink).count()

    assert drain() == 150
    t.insert_rows([(f"k{i}", "v", i) for i in range(150, 170)])
    t.flush()
    assert drain() == 170  # only the 20-row part was re-read
    assert drain() == 170  # no new parts -> no new rows


def test_stream_write_one_part_per_batch(spark):
    """writeStream.format('mergetree'): micro-batch -> staged files ->
    atomic manifest publish; the engine then queries and compacts the
    externally-streamed parts."""
    register_mergetree(spark)
    out = tempfile.mkdtemp(prefix="ds_sw_")
    srcdir = tempfile.mkdtemp(prefix="ds_sw_src_")
    spark.createDataFrame(
        [(f"k{i}", "v", i) for i in range(80)],
        "key string, value string, timestamp long",
    ).write.mode("overwrite").parquet(srcdir)
    q = (
        spark.readStream.schema("key string, value string, timestamp long")
        .parquet(srcdir)
        .writeStream.format("mergetree").option("path", out)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ds_sw_ck_"))
        .trigger(availableNow=True).start())
    q.awaitTermination()

    t = SparkMergeTree(spark, out, config=MergeTreeConfig(
        memtable_flush_threshold=10**12))
    assert t.part_count() == 1
    assert t.total_rows() == 80
    assert t.query("k10", "k19").count() == 10
    # staged dirs are reclaimed after commit
    assert not [d for d in os.listdir(out) if d.startswith(".staging")]


def test_stream_write_batch_ledger_is_idempotent(spark):
    """A replayed micro-batch id publishes nothing twice."""
    from clickhouse_mergetree_spark.sources.mergetree_source import (
        _FileCommit, _publish_part)

    out = tempfile.mkdtemp(prefix="ds_sl_")
    staging = os.path.join(out, ".staging_x")

    def staged_msg():
        os.makedirs(staging, exist_ok=True)
        fp = os.path.join(staging, "task-1.parquet")
        with open(fp, "wb") as f:
            f.write(b"x")
        return _FileCommit(file_name="task-1.parquet", staging=staging,
                           rows=1, n_bytes=1, min_key="a", max_key="a",
                           min_ts=0, max_ts=0)

    _publish_part(out, staging, [staged_msg()], batch_id=7)
    n_parts = len([d for d in os.listdir(out) if d.startswith("part_")])
    assert n_parts == 1
    _publish_part(out, staging, [staged_msg()], batch_id=7)  # replay
    n_parts = len([d for d in os.listdir(out) if d.startswith("part_")])
    assert n_parts == 1  # no second part


@pytest.mark.parametrize("damage", ["missing", "truncated"])
@pytest.mark.parametrize("write", ["append", "stream"])
def test_write_without_a_readable_manifest_keeps_the_parts(
        spark, write, damage):
    """A sink commit on a table whose manifest.json is gone or torn
    recovers the part dirs on disk, as the engine's open does: both old
    parts stay live and readable, and the new part takes id 3 instead of
    landing in part_1's dir."""
    from clickhouse_mergetree_spark.engine import Manifest

    base = tempfile.mkdtemp(prefix="ds_lost_")
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10)
    with SparkMergeTree(spark, base, config=cfg) as t:
        for lo in (0, 10):
            t.insert_rows([(f"k{i:02d}", "old", i) for i in range(lo, lo + 10)])
            t.flush()
    mf = os.path.join(base, "manifest.json")
    if damage == "missing":
        os.remove(mf)
    else:
        with open(mf) as f:
            text = f.read()
        with open(mf, "w") as f:
            f.write(text[:len(text) // 2])

    register_mergetree(spark)
    new = spark.createDataFrame([(f"n{i}", "new", i) for i in range(5)],
                                "key string, value string, timestamp long")
    if write == "append":
        new.write.format("mergetree").option("path", base).mode("append").save()
    else:
        src = tempfile.mkdtemp(prefix="ds_lost_src_")
        new.write.mode("overwrite").parquet(src)
        (spark.readStream.schema(new.schema).parquet(src)
         .writeStream.format("mergetree").option("path", base)
         .option("checkpointLocation", tempfile.mkdtemp(prefix="ds_lost_ck_"))
         .trigger(availableNow=True).start().awaitTermination())

    assert [p.part_id for p in Manifest.load(base).parts] == [1, 2, 3]
    expect = [f"k{i:02d}" for i in range(20)] + [f"n{i}" for i in range(5)]
    got = spark.read.format("mergetree").option("path", base).load()
    assert sorted(r.key for r in got.collect()) == expect
    with SparkMergeTree(spark, base, config=cfg) as t:
        assert t.part_count() == 3
        assert sorted(r.key for r in t.query_all().collect()) == expect


def test_batch_fast_path_matches_datasource(spark, table):
    """r9: mergetree_batch_scan (JVM parquet data plane) must return the
    same rows as the Python DataSource plane and prune the same parts."""
    from clickhouse_mergetree_spark.engine import Manifest
    from clickhouse_mergetree_spark.sources import mergetree_batch_scan
    from clickhouse_mergetree_spark.sources.mergetree_source import (
        _part_files, _prune_parts)

    lo, hi = "key_0100", "key_0199"
    fast = (mergetree_batch_scan(spark, table.base_path, lo, hi)
            .filter(F.col("key").between(lo, hi))
            .orderBy("key", "timestamp"))
    via_ds = (_scan(spark, table)
              .filter(F.col("key").between(lo, hi))
              .orderBy("key", "timestamp"))
    assert fast.collect() == via_ds.collect()

    # part pruning happened on the file list itself (the scan's input),
    # not just inside the parquet reader
    parts = Manifest.load(table.base_path).parts
    all_files = [f for p in parts for f in _part_files(p.path)]
    kept = [f for p in _prune_parts(parts, "key_2500", "key_2600")
            for f in _part_files(p.path)]
    assert 0 < len(kept) < len(all_files)

    # the plan is the JVM parquet scan, not a Python data source
    plan = (mergetree_batch_scan(spark, table.base_path, lo, hi)
            .filter(F.col("key") >= lo)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Scan parquet" in plan and "PushedFilters" in plan

    # fully-pruned range: empty result, schema preserved
    empty = mergetree_batch_scan(spark, table.base_path, "zzz", "zzzz")
    assert empty.count() == 0
    assert empty.columns == via_ds.columns
