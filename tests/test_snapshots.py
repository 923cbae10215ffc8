"""Snapshot time travel — query_at_version / vacuum (Delta/Iceberg-style).

With snapshot_retention > 0, parts removed by merges or TTL become
tombstones and past manifest versions stay readable; vacuum reclaims
tombstones once they leave the retention window. Retention 0 must be
byte-for-byte the old behavior: parts deleted at commit.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import MergeTreeConfig, SparkMergeTree

SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), False),
    T.StructField("value", T.StringType(), False),
    T.StructField("timestamp", T.LongType(), False),
])


def _table(spark, retention, **kw):
    base = tempfile.mkdtemp(prefix="snap_tbl_")
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=100,
                          snapshot_retention=retention, **kw)
    return SparkMergeTree(spark, base, schema=SCHEMA, config=cfg), base


def _flush(table, keys, ts):
    table.insert_rows([(f"k{k:04d}", f"v{k}@{ts}", ts) for k in keys])
    table.flush()


def test_snapshot_reads_past_versions(spark):
    t, base = _table(spark, retention=10)
    try:
        _flush(t, range(10), ts=1)          # version 1: 10 rows
        v1 = t.current_version()
        _flush(t, range(10, 30), ts=2)      # version 2: 30 rows
        v2 = t.current_version()
        t.config.max_parts = 1
        t.optimize()                        # merge commit: 1 part
        v3 = t.current_version()

        assert t.query_at_version(v1).count() == 10
        assert t.query_at_version(v2).count() == 30
        assert t.query_at_version(v3).count() == 30
        assert t.query_all().count() == 30
        # snapshot content, not just counts
        keys_v1 = {r["key"] for r in t.query_at_version(v1).collect()}
        assert keys_v1 == {f"k{k:04d}" for k in range(10)}
        assert t.query_at_version(0).count() == 0
    finally:
        t.close()
        shutil.rmtree(base, ignore_errors=True)


def test_snapshot_survives_ttl_expiry(spark):
    t, base = _table(spark, retention=10)
    try:
        _flush(t, range(10), ts=100)
        _flush(t, range(10, 20), ts=200)
        v_before = t.current_version()
        stats = t.expire(150)
        assert stats["parts_dropped"] == 1
        assert t.query_all().count() == 10
        # the pre-expiry snapshot still sees the expired rows
        assert t.query_at_version(v_before).count() == 20
    finally:
        t.close()
        shutil.rmtree(base, ignore_errors=True)


def test_vacuum_reclaims_out_of_window_tombstones(spark):
    t, base = _table(spark, retention=1)
    try:
        _flush(t, range(10), ts=1)
        _flush(t, range(10, 20), ts=2)
        t.config.max_parts = 1
        t.optimize()                        # removes 2 parts as tombstones
        v_merge = t.current_version()
        old_dirs = [p.path for p, _ in t.manifest.tombstones.values()]

        # push the merge out of the 1-version window with two more commits
        _flush(t, range(20, 25), ts=3)
        _flush(t, range(25, 30), ts=4)
        reclaimed = t.vacuum()
        assert reclaimed == 2
        for d in old_dirs:
            assert not os.path.exists(d), f"vacuum leaked {d}"
        with pytest.raises(KeyError):
            t.query_at_version(v_merge - 1).count()
    finally:
        t.close()
        shutil.rmtree(base, ignore_errors=True)


def test_retention_zero_is_old_behavior(spark):
    t, base = _table(spark, retention=0)
    try:
        _flush(t, range(10), ts=1)
        _flush(t, range(10, 20), ts=2)
        pre_merge = [p.path for p in t.manifest.parts]
        t.config.max_parts = 1
        t.optimize()
        for d in pre_merge:
            assert not os.path.exists(d), "retention=0 must delete at commit"
        assert not t.manifest.tombstones
        with pytest.raises(KeyError):
            t.query_at_version(1).count()  # version logged but parts gone
    finally:
        t.close()
        shutil.rmtree(base, ignore_errors=True)


def test_snapshots_persist_across_reopen(spark):
    t, base = _table(spark, retention=10)
    try:
        _flush(t, range(10), ts=1)
        v1 = t.current_version()
        t.config.max_parts = 1
        _flush(t, range(10, 20), ts=2)
        t.optimize()
        t.close()

        cfg = MergeTreeConfig(memtable_flush_threshold=10**9,
                              snapshot_retention=10)
        t2 = SparkMergeTree(spark, base, schema=SCHEMA, config=cfg)
        try:
            assert t2.query_at_version(v1).count() == 10
            assert t2.query_all().count() == 20
        finally:
            t2.close()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_partitioned_insert_is_one_version(spark):
    """An INSERT over 3 partitions writes 3 parts in ONE commit: no
    version holds some of its partitions without the others."""
    t, base = _table(spark, retention=10, partition_col="value")
    try:
        t.insert_rows([(f"k{k:04d}", f"p{k % 3}", 1) for k in range(30)])
        t.flush()
        assert t.part_count() == 3
        assert t.current_version() == 1
        assert t.query_at_version(1).count() == 30
    finally:
        t.close()
        shutil.rmtree(base, ignore_errors=True)
