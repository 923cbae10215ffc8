"""A lifecycle rewrite whose commit fails mid-batch leaves no debris.

Every batched rewrite (FINAL merges, mutations, TTL, column TTL, TTL
rollup, materialized lightweight deletes) writes all its new parts
before the first commit and then commits them one at a time. When a
commit fails, the new part dirs whose commit was never attempted must be
deleted: the manifest never saw them, so no reclaim path would. Only the
dir of the commit that failed may remain unreferenced.
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


@pytest.mark.parametrize("retention", [0, 3])
@pytest.mark.parametrize("op", sorted(OPS))
def test_failed_commit_deletes_never_attempted_parts(spark, tmp_path,
                                                     monkeypatch, op,
                                                     retention):
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=100,
                          key_col="key", ts_col="ts_us",
                          partition_col="bucket",
                          snapshot_retention=retention)
    with SparkMergeTree(spark, str(tmp_path / "t"), schema=SCHEMA,
                        config=cfg) as t:
        # 3 partitions x 2 parts, every part straddling CUTOFF
        for r in range(2):
            t.insert_rows([(100 * (3 * r + b) + k, 1000 + k, f"b{b}",
                            float(k))
                           for b in range(3) for k in range(20)])
            t.flush()
        assert len(t.manifest.parts) == 6
        if op == "materialize_deletes":
            t.lightweight_delete(f"ts_us < {CUTOFF}")
        real_swap = t.manifest.swap
        calls = []

        def failing_swap(*args, **kwargs):
            calls.append(args)
            if len(calls) == 2:
                raise RuntimeError("injected commit failure")
            return real_swap(*args, **kwargs)

        monkeypatch.setattr(t.manifest, "swap", failing_swap)
        with pytest.raises(RuntimeError, match="injected commit failure"):
            OPS[op](t)
        assert len(calls) == 2
        assert len(_unreferenced_part_dirs(t)) <= 1
