"""Insert spans (``PartMeta.min_block``/``max_block``) through a table's
lifecycle, on an unpartitioned and a partitioned table.

Pins: live spans within a partition never overlap; a merge output spans
the union of its inputs; spans survive close and reopen; a manifest
written before spans existed (both fields absent) opens, reads the same
rows and still merges.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import MergeTreeConfig, SparkMergeTree

SCHEMA = T.StructType([
    T.StructField("key", T.LongType(), False),
    T.StructField("ts", T.LongType(), False),
    T.StructField("bucket", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
])


def _mk(spark, base, partitioned):
    return SparkMergeTree(spark, base, schema=SCHEMA, config=MergeTreeConfig(
        memtable_flush_threshold=10**9, max_parts=3, key_col="key",
        ts_col="ts", partition_col="bucket" if partitioned else None))


def _rows(lo, hi):
    return [(k, k, "ab"[k % 2], float(k)) for k in range(lo, hi)]


def _spans(t):
    return {p.part_id: (p.partition, p.blocks) for p in t.manifest.parts}


def _rows_of(t):
    return sorted(tuple(r) for r in t.query_all().collect())


def _assert_disjoint(t):
    by_partition = {}
    for p in t.manifest.parts:
        by_partition.setdefault(p.partition, []).append(p.blocks)
    for spans in by_partition.values():
        spans.sort()
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            assert hi < lo, spans


def _merge(t):
    """One scheduled merge: its one new part spans exactly the union of
    the parts it removed."""
    before = _spans(t)
    assert t.merge_parts_sync()
    after = _spans(t)
    removed = [before[i] for i in before.keys() - after.keys()]
    (added,) = [after[i] for i in after.keys() - before.keys()]
    assert len(removed) in (2, 3)
    assert {partition for partition, _ in removed} == {added[0]}
    assert added[1] == (min(lo for _, (lo, _) in removed),
                        max(hi for _, (_, hi) in removed))
    _assert_disjoint(t)


@pytest.mark.parametrize("partitioned", [False, True])
def test_spans_through_lifecycle_and_reopen(spark, tmp_path, partitioned):
    base, src_base = str(tmp_path / "t"), str(tmp_path / "src")
    t = _mk(spark, base, partitioned)
    for lo in range(0, 40, 5):
        t.insert_rows(_rows(lo, lo + 5))
        t.flush()
        _assert_disjoint(t)
        while t.should_trigger_merge():
            _merge(t)
    t.update_where(F.col("key") < 7, {"value": F.lit(-1.0)})
    _assert_disjoint(t)
    t.expire(3)
    _assert_disjoint(t)
    t.lightweight_delete("key = 12")
    t.materialize_deletes()
    _assert_disjoint(t)
    if partitioned:
        src = _mk(spark, src_base, partitioned)
        for lo in (100, 110):
            src.insert_rows(_rows(lo, lo + 10))
            src.flush()
        before = set(_spans(t))
        t.attach_partition_from(src, "a")
        src.close()
        copies = [pid for pid in _spans(t) if pid not in before]
        assert len(copies) == 2
        assert all(_spans(t)[pid][1] == (pid, pid) for pid in copies)
        _assert_disjoint(t)
    while t.should_trigger_merge():
        _merge(t)

    before = _spans(t)
    t.optimize(final=True)
    _assert_disjoint(t)
    for partition, (lo, hi) in _spans(t).values():
        inputs = [s for part, s in before.values() if part == partition]
        assert (lo, hi) == (min(s[0] for s in inputs),
                            max(s[1] for s in inputs))

    assert all(p.min_block is not None for p in t.manifest.parts)
    rows, spans = _rows_of(t), _spans(t)
    t.close()
    t = _mk(spark, base, partitioned)
    assert _spans(t) == spans
    assert _rows_of(t) == rows
    t.close()

    # a manifest from before spans existed: both fields absent
    mf = os.path.join(base, "manifest.json")
    with open(mf) as f:
        doc = json.load(f)
    for p in doc["parts"] + [p for p, _ in doc["tombstones"].values()]:
        del p["min_block"], p["max_block"]
    with open(mf, "w") as f:
        json.dump(doc, f)
    t = _mk(spark, base, partitioned)
    assert all(p.min_block is None for p in t.manifest.parts)
    assert all(pid == lo == hi for pid, (_, (lo, hi)) in _spans(t).items())
    assert _rows_of(t) == rows
    for lo in range(200, 230, 5):
        t.insert_rows(_rows(lo, lo + 5))
        t.flush()
    assert t.should_trigger_merge()
    _merge(t)
    assert _rows_of(t) == sorted(rows + [tuple(r) for r in _rows(200, 230)])
    t.close()
