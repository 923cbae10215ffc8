"""A lifecycle rewrite commits as one manifest version, and a failed
commit leaves no debris.

Every batched rewrite (FINAL merges, mutations, TTL, column TTL, TTL
rollup, materialized lightweight deletes) writes all its new parts and
then commits the whole plan in one ``Manifest.swap``. When that swap
fails, the manifest never saw the new part dirs, so no reclaim path
would: they must all be deleted, and the table must read as it did
before the operation.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import MergeTreeConfig, SparkMergeTree

SCHEMA = T.StructType([
    T.StructField("key", T.LongType(), False),
    T.StructField("ts_us", T.LongType(), False),
    T.StructField("bucket", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
])

CUTOFF = 1010

OPS = {
    "optimize_final": lambda t: t.optimize(final=True),
    "update_where": lambda t: t.update_where(F.col("key") >= 0,
                                             {"value": F.lit(1.0)}),
    "delete_where": lambda t: t.delete_where(F.col("ts_us") < CUTOFF),
    "expire": lambda t: t.expire(CUTOFF),
    "expire_columns": lambda t: t.expire_columns({"value": CUTOFF}),
    "expire_rollup": lambda t: t.expire_rollup(CUTOFF, {"value": "sum"}),
    "materialize_deletes": lambda t: t.materialize_deletes(),
}


def _unreferenced_part_dirs(t) -> set[str]:
    referenced = {os.path.basename(p.path) for p in t.manifest.parts}
    referenced |= {os.path.basename(p.path)
                   for p, _v in t.manifest.tombstones.values()}
    on_disk = {d for d in os.listdir(t.base_path)
               if re.fullmatch(r"part_\d+", d)}
    return on_disk - referenced


def _table(spark, tmp_path, op, retention):
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=100,
                          key_col="key", ts_col="ts_us",
                          partition_col="bucket",
                          snapshot_retention=retention)
    t = SparkMergeTree(spark, str(tmp_path / "t"), schema=SCHEMA,
                       config=cfg)
    # 3 partitions x 2 parts, every part straddling CUTOFF
    for r in range(2):
        t.insert_rows([(100 * (3 * r + b) + k, 1000 + k, f"b{b}", float(k))
                       for b in range(3) for k in range(20)])
        t.flush()
    assert len(t.manifest.parts) == 6
    if op == "materialize_deletes":
        t.lightweight_delete(f"ts_us < {CUTOFF}")
    return t


@pytest.mark.parametrize("retention", [0, 3])
@pytest.mark.parametrize("op", sorted(OPS))
def test_failed_commit_leaves_no_part_dirs(spark, tmp_path, monkeypatch,
                                           op, retention):
    with _table(spark, tmp_path, op, retention) as t:
        before = t.query_all().count()
        calls = []

        def failing_swap(*args, **kwargs):
            calls.append(args)
            raise RuntimeError("injected commit failure")

        monkeypatch.setattr(t.manifest, "swap", failing_swap)
        with pytest.raises(RuntimeError, match="injected commit failure"):
            OPS[op](t)
        monkeypatch.undo()
        assert len(calls) == 1
        assert _unreferenced_part_dirs(t) == set()
        assert t.query_all().count() == before


@pytest.mark.parametrize("retention", [0, 3])
@pytest.mark.parametrize("op", sorted(OPS))
def test_every_rewrite_is_one_version(spark, tmp_path, op, retention):
    with _table(spark, tmp_path, op, retention) as t:
        v0 = t.current_version()
        OPS[op](t)
        assert t.current_version() == v0 + 1
