"""ATTACH/REPLACE PARTITION FROM, OPTIMIZE DEDUPLICATE, and MergeTable.

Pins: cross-table partition copy is hardlink + metadata only (source
untouched, fresh dest part ids, skipping indexes travel), REPLACE swaps
the dest partition, structure mismatches refuse, dirty source partitions
(pending ALTER/mask) refuse; OPTIMIZE DEDUPLICATE drops whole-row and
BY-subset duplicates with a deterministic survivor; MergeTable unions
member reads under a virtual _table column with regex member pruning.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import (
    MergeTable, MergeTreeConfig, SparkMergeTree)

SCHEMA = T.StructType([
    T.StructField("key", T.LongType(), False),
    T.StructField("ts", T.LongType(), False),
    T.StructField("bucket", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
])

CFG = dict(memtable_flush_threshold=10**9, max_parts=100,
           key_col="key", ts_col="ts", partition_col="bucket")


@pytest.fixture()
def bases():
    ds = [tempfile.mkdtemp(prefix=f"attach_{i}_") for i in range(2)]
    yield ds
    for d in ds:
        shutil.rmtree(d, ignore_errors=True)


def _mk(spark, base, **over):
    return SparkMergeTree(spark, base, schema=SCHEMA,
                          config=MergeTreeConfig(**{**CFG, **over}))


def _rows(lo, hi, bucket):
    return [(k, k, bucket, float(k)) for k in range(lo, hi)]


def _keys(df):
    return sorted(r["key"] for r in df.collect())


# ------------------------------------------------------ attach/replace from


def test_attach_from_copies_partition(spark, bases):
    src, dst = _mk(spark, bases[0]), _mk(spark, bases[1])
    src.insert_rows(_rows(0, 10, "a") + _rows(10, 20, "b"))
    src.flush()
    dst.insert_rows(_rows(100, 105, "a"))
    dst.flush()
    rows = dst.attach_partition_from(src, "a")
    assert rows == 10
    assert _keys(dst.query_all()) == list(range(0, 10)) + list(range(100, 105))
    # source untouched, "b" not copied
    assert src.total_rows() == 20
    assert sorted(p.partition for p in dst.manifest.parts) == ["a", "a"]
    src.close(); dst.close()


def test_attach_from_is_hardlinked_with_fresh_ids(spark, bases):
    import os
    src, dst = _mk(spark, bases[0]), _mk(spark, bases[1])
    src.insert_rows(_rows(0, 8, "a"))
    src.flush()
    dst.attach_partition_from(src, "a")
    (sp,) = src.manifest.parts
    (dp,) = dst.manifest.parts
    assert dp.part_id != sp.part_id or sp.path != dp.path
    linked = [f for f in os.listdir(dp.path)
              if os.path.isfile(os.path.join(dp.path, f))]
    assert linked, "copied part has no files"
    for f in linked:
        s, d = os.path.join(sp.path, f), os.path.join(dp.path, f)
        if os.path.isfile(s):
            assert os.stat(s).st_ino == os.stat(d).st_ino, "not hardlinked"
    # skipping-index metadata travels (same immutable bytes)
    assert dp.bloom_hex == sp.bloom_hex
    assert dp.row_count == sp.row_count
    src.close(); dst.close()


def test_replace_from_swaps_partition(spark, bases):
    src, dst = _mk(spark, bases[0]), _mk(spark, bases[1])
    src.insert_rows(_rows(0, 5, "a"))
    src.flush()
    dst.insert_rows(_rows(50, 60, "a") + _rows(60, 65, "b"))
    dst.flush()
    dst.attach_partition_from(src, "a", replace=True)
    assert _keys(dst.query_all()) == list(range(0, 5)) + list(range(60, 65))
    src.close(); dst.close()


def _three_parts(t, bucket):
    for lo in (0, 5, 10):
        t.insert_rows(_rows(lo, lo + 5, bucket))
        t.flush()


def test_attach_from_of_three_parts_is_one_version(spark, bases):
    src, dst = _mk(spark, bases[0]), _mk(spark, bases[1])
    _three_parts(src, "a")
    v = dst.current_version()
    assert dst.attach_partition_from(src, "a") == 15
    assert dst.current_version() == v + 1
    assert dst.query_at_version(v + 1).count() == 15
    src.close(); dst.close()


def test_attach_partition_is_one_version(spark, bases):
    t = _mk(spark, bases[0])
    _three_parts(t, "a")
    assert t.detach_partition("a") == 15
    v = t.current_version()
    assert t.attach_partition("a") == 15
    assert t.current_version() == v + 1
    assert t.query_at_version(v + 1).count() == 15
    t.close()


def test_replace_from_is_one_version_never_empty(spark, bases):
    """REPLACE PARTITION drops the old parts and adds the copies in one
    commit: no logged version shows the partition empty."""
    src = _mk(spark, bases[0])
    dst = _mk(spark, bases[1], snapshot_retention=10)
    _three_parts(src, "a")
    dst.insert_rows(_rows(50, 60, "a"))
    dst.flush()
    v = dst.current_version()
    dst.attach_partition_from(src, "a", replace=True)
    assert dst.current_version() == v + 1
    assert _keys(dst.query_all()) == list(range(15))
    for version, _ids in dst.manifest.log:
        assert dst.query_at_version(version).count() > 0
    src.close(); dst.close()


def test_attach_from_refuses_structure_mismatch(spark, bases):
    src = _mk(spark, bases[0])
    other_schema = T.StructType([
        T.StructField("key", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("bucket", T.StringType(), True),
        T.StructField("value", T.StringType(), True),  # type differs
    ])
    dst = SparkMergeTree(spark, bases[1], schema=other_schema,
                         config=MergeTreeConfig(**CFG))
    src.insert_rows(_rows(0, 3, "a"))
    with pytest.raises(ValueError, match="schema mismatch"):
        dst.attach_partition_from(src, "a")
    src.close(); dst.close()


def test_attach_from_refuses_dirty_source(spark, bases):
    src, dst = _mk(spark, bases[0]), _mk(spark, bases[1])
    src.insert_rows(_rows(0, 6, "a"))
    src.flush()
    src.lightweight_delete("key = 2")
    with pytest.raises(ValueError, match="pending"):
        dst.attach_partition_from(src, "a")
    # materializing the mask clears the refusal
    src.optimize(final=True)
    assert dst.attach_partition_from(src, "a") == 5
    src.close(); dst.close()


# --------------------------------------------------- optimize deduplicate


def test_optimize_deduplicate_full_row(spark, bases):
    t = _mk(spark, bases[0])
    # same (key, ts) but distinct values are VERSIONS for dedup mode —
    # use distinct keys with literally identical rows doubled instead
    rows = _rows(0, 6, "a")
    t.insert_rows(rows)
    t.flush()
    t.insert_rows(rows)  # exact replay of the batch
    t.flush()
    # engine (key, ts) dedup already collapses identical sorting keys in
    # dedup mode; use summing-free check via part-level row counts
    stats = t.optimize_deduplicate()
    assert stats["rows_after"] == 6
    assert _keys(t.query_all()) == list(range(6))
    assert t.part_count() == 1
    t.close()


def test_optimize_deduplicate_by_subset_keeps_min(spark, bases):
    t = _mk(spark, bases[0], mode="summing", sum_cols=())
    # summing with no sum_cols keeps min of non-key columns; avoid the
    # engine collapse interfering by giving every row a unique (key, ts)
    t2 = _mk(spark, bases[1])
    t2.insert_rows([(1, 10, "a", 5.0), (1, 11, "a", 3.0),
                    (1, 12, "a", 9.0), (2, 10, "a", 1.0)])
    t2.flush()
    stats = t2.optimize_deduplicate(by=("key",))
    assert stats["rows_after"] == 2
    out = sorted((r["key"], r["ts"], r["value"])
                 for r in t2.query_all().collect())
    # survivor = minimal in remaining columns' sort order: (ts, bucket, value)
    assert out == [(1, 10, 5.0), (2, 10, 1.0)]
    t.close(); t2.close()


def test_optimize_deduplicate_respects_partitions(spark, bases):
    t = _mk(spark, bases[0])
    t.insert_rows(_rows(0, 4, "a") + _rows(0, 4, "b"))
    t.flush()
    t.insert_rows(_rows(0, 4, "a"))  # replay only partition a
    t.flush()
    stats = t.optimize_deduplicate()
    assert stats["rows_after"] == 8
    assert t.part_count() == 2  # one per partition
    assert sorted(p.partition for p in t.manifest.parts) == ["a", "b"]
    t.close()


# ------------------------------------------------------------- MergeTable


def test_merge_table_union_and_vcol(spark, bases):
    hot, cold = _mk(spark, bases[0]), _mk(spark, bases[1])
    cold.insert_rows(_rows(0, 10, "a"))
    cold.flush()
    hot.insert_rows(_rows(10, 15, "a"))
    hot.flush()
    m = MergeTable({"events_hot": hot, "events_cold": cold})
    out = m.query_all().collect()
    assert len(out) == 15
    by_table = {}
    for r in out:
        by_table.setdefault(r["_table"], []).append(r["key"])
    assert sorted(by_table["events_cold"]) == list(range(0, 10))
    assert sorted(by_table["events_hot"]) == list(range(10, 15))
    hot.close(); cold.close()


def test_merge_table_pattern_prunes_members(spark, bases):
    a, b = _mk(spark, bases[0]), _mk(spark, bases[1])
    a.insert_rows(_rows(0, 5, "a")); a.flush()
    b.insert_rows(_rows(5, 9, "a")); b.flush()
    m = MergeTable({"events_2024": a, "events_2025": b})
    assert [n for n, _ in m.member_tables("events_2024")] == ["events_2024"]
    assert _keys(m.query_all(pattern="events_2025")) == list(range(5, 9))
    assert m.query(0, 3, pattern="events_2024").count() == 4
    with pytest.raises(ValueError, match="no member"):
        m.query_all(pattern="nope")
    a.close(); b.close()


def test_merge_table_range_and_key(spark, bases):
    a, b = _mk(spark, bases[0]), _mk(spark, bases[1])
    a.insert_rows(_rows(0, 5, "a")); a.flush()
    b.insert_rows(_rows(3, 9, "a")); b.flush()
    m = MergeTable({"a": a, "b": b})
    assert _keys(m.query(3, 4)) == [3, 3, 4, 4]
    assert sorted(r["_table"] for r in m.query_key(7).collect()) == ["b"]
    a.close(); b.close()


# --------------------------------------------------------------- fuzzing


def test_attach_from_fuzz(spark, bases):
    """Model-based fuzz over the cross-table surface: random inserts into
    main/staging, ATTACH FROM / REPLACE FROM / DROP PARTITION / optimize
    interleavings checked against dict models after every sequence and
    after a main-table reopen. Also pins the dirty-source refusal: a
    staging lw-delete blocks the copy until optimize materializes it."""
    import random

    for seed in range(4):
        rng = random.Random(7000 + seed)
        import tempfile
        da = tempfile.mkdtemp(prefix="affuzz_a_")
        db = tempfile.mkdtemp(prefix="affuzz_b_")
        a, b = _mk(spark, da), _mk(spark, db)
        ma: dict = {}   # (key, ts) -> (bucket, v)
        mb: dict = {}
        nk = 0
        buckets = ["p0", "p1"]
        try:
            for _ in range(12):
                ops = ["ins_a", "ins_b", "flush", "optimize"]
                if mb:
                    ops += ["attach_from", "replace_from", "lw_b"]
                if ma:
                    ops += ["drop_a"]
                op = rng.choice(ops)
                if op in ("ins_a", "ins_b"):
                    rows, model = [], (ma if op == "ins_a" else mb)
                    for _ in range(rng.randrange(1, 5)):
                        bk = rng.choice(buckets)
                        rows.append((nk, nk, bk, float(nk)))
                        model[(nk, nk)] = (bk, float(nk))
                        nk += 1
                    (a if op == "ins_a" else b).insert_rows(rows)
                elif op == "flush":
                    a.flush(); b.flush()
                elif op == "optimize":
                    a.optimize()
                elif op == "lw_b":
                    lo = rng.choice(sorted(k for k, _ in mb))
                    b.lightweight_delete(f"key >= {lo} AND key < {lo + 3}")
                    mb = {kt: bv for kt, bv in mb.items()
                          if not (lo <= kt[0] < lo + 3)}
                elif op in ("attach_from", "replace_from"):
                    bk = rng.choice(buckets)
                    replace = op == "replace_from"
                    try:
                        a.attach_partition_from(b, bk, replace=replace)
                    except ValueError:
                        # dirty staging (live lw mask): contract says
                        # materialize first, then the copy must succeed
                        b.optimize(final=True)
                        a.attach_partition_from(b, bk, replace=replace)
                    moved = {kt: bv for kt, bv in mb.items()
                             if bv[0] == bk}
                    if replace:
                        ma = {kt: bv for kt, bv in ma.items()
                              if bv[0] != bk}
                    ma.update(moved)
                elif op == "drop_a":
                    bk = rng.choice(buckets)
                    a.drop_partition(bk)
                    ma = {kt: bv for kt, bv in ma.items() if bv[0] != bk}
            a.flush(); b.flush()
            for t, model in ((a, ma), (b, mb)):
                got = sorted((r["key"], r["ts"], r["bucket"], r["value"])
                             for r in t.query_all().collect())
                want = sorted((k, ts, bk, v)
                              for (k, ts), (bk, v) in model.items())
                assert got == want, f"seed {seed}: {got[:3]} != {want[:3]}"
            # reopen main: attached parts must replay from the manifest
            a.close()
            a = _mk(spark, da)
            got = sorted((r["key"], r["ts"], r["bucket"], r["value"])
                         for r in a.query_all().collect())
            want = sorted((k, ts, bk, v)
                          for (k, ts), (bk, v) in ma.items())
            assert got == want, f"seed {seed} reopen"
        finally:
            a.close(); b.close()
            shutil.rmtree(da, ignore_errors=True)
            shutil.rmtree(db, ignore_errors=True)


def test_optimize_dedup_by_fuzz(spark, bases):
    """Model-based fuzz for DEDUPLICATE BY: rows share keys across many
    (unique) timestamps; random insert/flush/optimize/dedup-by-key
    sequences must leave, per (partition, key), exactly the minimal-ts
    row — the engine's pinned deterministic survivor — matching a dict
    model, including after reopen."""
    import random
    import tempfile

    for seed in range(4):
        rng = random.Random(8000 + seed)
        d = tempfile.mkdtemp(prefix="odfuzz_")
        t = _mk(spark, d)
        model: dict = {}   # (key, ts) -> (bucket, v)
        ts = 0
        try:
            for _ in range(10):
                op = rng.choice(["ins", "ins", "flush", "optimize", "dedup"])
                if op == "ins":
                    rows = []
                    for _ in range(rng.randrange(1, 6)):
                        k = rng.randrange(4)          # small key pool
                        bk = rng.choice(["p0", "p1"])
                        rows.append((k, ts, bk, float(ts)))
                        model[(k, ts)] = (bk, float(ts))
                        ts += 1
                    t.insert_rows(rows)
                elif op == "flush":
                    t.flush()
                elif op == "optimize":
                    t.optimize()
                else:
                    t.optimize_deduplicate(by=("key",))
                    # survivor per (bucket, key): minimal (ts, v)
                    best: dict = {}
                    for (k, tss), (bk, v) in model.items():
                        cur = best.get((bk, k))
                        if cur is None or (tss, v) < cur[0]:
                            best[(bk, k)] = ((tss, v), (k, tss, bk, v))
                    model = {(r[0], r[1]): (r[2], r[3])
                             for (_, r) in best.values()}
            t.flush()
            got = sorted((r["key"], r["ts"], r["bucket"], r["value"])
                         for r in t.query_all().collect())
            want = sorted((k, tss, bk, v)
                          for (k, tss), (bk, v) in model.items())
            assert got == want, f"seed {seed}: {got[:4]} != {want[:4]}"
            t.close()
            t = _mk(spark, d)
            got = sorted((r["key"], r["ts"], r["bucket"], r["value"])
                         for r in t.query_all().collect())
            assert got == want, f"seed {seed} reopen"
        finally:
            t.close()
            shutil.rmtree(d, ignore_errors=True)


def test_attach_from_refuses_self(spark, bases):
    t = _mk(spark, bases[0])
    t.insert_rows(_rows(0, 3, "a"))
    t.flush()
    with pytest.raises(ValueError, match="same table"):
        t.attach_partition_from(t, "a")
    with pytest.raises(ValueError, match="same table"):
        t.attach_partition_from(t, "a", replace=True)
    t.close()
