"""FREEZE PARTITION / UNFREEZE / restore — instant hardlink backups.

Pins: zero-copy freeze (hardlinked inodes), isolation from later
merges/drops (frozen bytes survive part deletion), whole-table and
per-partition scope, additive restore under fresh part ids, unfreeze
reclaim, and name-collision / missing-backup refusals.
"""

from __future__ import annotations

import os
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
           key_col="key", ts_col="ts")


@pytest.fixture()
def base():
    d = tempfile.mkdtemp(prefix="freeze_tbl_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def table(spark, base):
    t = SparkMergeTree(spark, base, schema=SCHEMA,
                       config=MergeTreeConfig(**CFG))
    yield t
    t.close()


def _flush(table, lo, hi):
    table.insert_rows([(k, k, float(k)) for k in range(lo, hi)])
    table.flush()


def test_freeze_is_hardlinked_and_survives_drop(table):
    _flush(table, 0, 50)
    _flush(table, 50, 100)
    stats = table.freeze_partition(backup_name="b1")
    assert stats["backup"] == "b1" and stats["parts_frozen"] == 2
    assert table.list_frozen() == ["b1"]
    # hardlinks: frozen files share inodes with live part files
    live = table.manifest.parts[0].path
    frozen = os.path.join(table.base_path, "shadow", "b1",
                          os.path.basename(live))
    shared = [fn for fn in os.listdir(frozen)
              if os.path.isfile(os.path.join(live, fn))
              and os.stat(os.path.join(frozen, fn)).st_ino
              == os.stat(os.path.join(live, fn)).st_ino]
    assert shared  # at least the parquet files are links, not copies
    # destroying the live table cannot touch the frozen bytes
    table.config.max_parts = 1
    table.optimize()                  # merge deletes the old part dirs
    assert not os.path.exists(live)
    r = table.restore_frozen("b1")    # still restorable
    assert r == {"parts_restored": 2, "rows": 100}


def test_restore_is_additive_under_fresh_ids(table):
    _flush(table, 0, 20)
    table.freeze_partition(backup_name="snap")
    ids_before = {p.part_id for p in table.manifest.parts}
    r = table.restore_frozen("snap")
    assert r["rows"] == 20
    ids_after = {p.part_id for p in table.manifest.parts}
    assert ids_before < ids_after and len(ids_after) == 2
    # additive: every (key, ts) now has two physical copies; the engine's
    # (key, ts) dedup read still serves each row once
    assert table.query_all().count() == 20
    assert sum(p.row_count for p in table.manifest.parts) == 40


def test_restore_of_three_parts_is_one_version(table):
    for lo in (0, 10, 20):
        _flush(table, lo, lo + 10)
    table.freeze_partition(backup_name="three")
    table.truncate()
    v = table.current_version()
    assert table.restore_frozen("three") == {"parts_restored": 3,
                                             "rows": 30}
    assert table.current_version() == v + 1
    assert table.query_at_version(v + 1).count() == 30


def test_freeze_partition_scope(spark, base):
    schema = T.StructType([
        T.StructField("key", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("bucket", T.StringType(), True),
    ])
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=100,
                          key_col="key", ts_col="ts",
                          partition_col="bucket")
    with SparkMergeTree(spark, base, schema=schema, config=cfg) as t:
        t.insert_rows([(k, k, f"b{k % 2}") for k in range(40)])
        t.flush()
        stats = t.freeze_partition("b0", backup_name="only_b0")
        assert stats["parts_frozen"] == 1
        t.drop_partition("b0")
        assert t.query_all().count() == 20
        r = t.restore_frozen("only_b0")   # replace-style: drop then restore
        assert r["rows"] == 20
        assert t.query_all().count() == 40
        assert sorted({p.partition for p in t.manifest.parts}) == [
            "b0", "b1"]


def test_unfreeze_and_refusals(table):
    _flush(table, 0, 10)
    table.freeze_partition(backup_name="x")
    with pytest.raises(ValueError, match="already exists"):
        table.freeze_partition(backup_name="x")
    table.unfreeze("x")
    assert table.list_frozen() == []
    assert table.query_all().count() == 10   # live data untouched
    with pytest.raises(ValueError, match="no backup"):
        table.unfreeze("x")
    with pytest.raises(ValueError, match="no backup"):
        table.restore_frozen("x")
