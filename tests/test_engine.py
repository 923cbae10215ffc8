"""SparkMergeTree engine-semantics suite (SURVEY §5.2–5.4).

Reproduces the reference's demo scenarios (examples/demo.cpp:9-98,155-190)
against the Spark engine: version semantics, flush thresholds, compaction
invariants (row multiset preserved, dup collapse, part count shrinks),
persistence/recovery, and the R8 pruning proof via inputFiles().
"""

from __future__ import annotations

import os
import time

import pytest

from clickhouse_mergetree_spark.engine import (
    Manifest,
    MergeTreeConfig,
    SparkMergeTree,
    select_merge_candidates,
)


@pytest.fixture()
def base_path(tmp_path):
    return str(tmp_path / "table")


def _rows(df):
    return [(r["key"], r["value"], r["timestamp"]) for r in df.collect()]


# --------------------------------------------------------- demo test_basic

def test_basic_operations(spark, base_path):
    """examples/demo.cpp:9-38 — insert, re-insert same key, point + range."""
    cfg = MergeTreeConfig(memtable_flush_threshold=100, max_parts=5)
    with SparkMergeTree(spark, base_path, config=cfg) as t:
        t.insert("key1", "value1", 1000)
        t.insert("key2", "value2", 2000)
        t.insert("key3", "value3", 3000)
        t.insert("key1", "updated_value1", 4000)

        # append-only version semantics: both versions of key1 visible
        k1 = _rows(t.query_key("key1"))
        assert k1 == [("key1", "value1", 1000), ("key1", "updated_value1", 4000)]

        rng = _rows(t.query("key1", "key3"))
        assert len(rng) == 4
        keys_ts = [(k, ts) for k, _v, ts in rng]
        assert keys_ts == sorted(keys_ts)  # (key ASC, ts ASC)


def test_exact_duplicate_collapses(spark, base_path):
    """Same (key, ts) inserted twice → one row survives (SURVEY §1.5)."""
    with SparkMergeTree(spark, base_path) as t:
        t.insert("dup", "v", 100)
        t.insert("dup", "v", 100)
        t.flush()
        t.insert("dup", "v", 100)  # and once more in the buffer
        assert _rows(t.query_key("dup")) == [("dup", "v", 100)]


def test_summing_mode_collapses_by_sum(spark, base_path):
    """mode="summing": rows sharing (key, ts) sum their numeric columns —
    across buffer/part boundaries and through a physical merge — while
    dedup mode (the reference's semantics) keeps exactly one row."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("key", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("amount", T.LongType(), True),
        T.StructField("tag", T.StringType(), True),
    ])
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=1,
                          mode="summing", key_col="key", ts_col="ts")
    with SparkMergeTree(spark, base_path, schema=schema, config=cfg) as t:
        t.insert_rows([("a", 1, 10, "x"), ("a", 1, 5, "y"), ("b", 1, 7, "z")])
        t.flush()
        t.insert_rows([("a", 1, 2, "w"), ("b", 2, 1, "z")])
        t.flush()
        # partial sums live in 2 parts; read finalizes across them
        got = {(r["key"], r["ts"]): (r["amount"], r["tag"])
               for r in t.query_all().collect()}
        assert got == {("a", 1): (17, "w"), ("b", 1): (7, "z"),
                       ("b", 2): (1, "z")}
        # merge collapses physically; result unchanged, parts shrink
        assert t.merge_parts_sync()
        assert t.part_count() == 1
        got2 = {(r["key"], r["ts"]): (r["amount"], r["tag"])
                for r in t.query_all().collect()}
        assert got2 == got
        # the merged part itself holds collapsed rows (no read-side help)
        raw = spark.read.schema(schema).parquet(t.manifest.parts[0].path)
        assert raw.count() == 3


def test_partitioned_table_lifecycle(spark, base_path):
    """partition_col: per-value parts at flush, partition-scoped merges,
    metadata-only DROP PARTITION, partition pruning on reads, and
    partition tags surviving manifest reload."""
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=2,
                          partition_col="value")
    with SparkMergeTree(spark, base_path, config=cfg) as t:
        t.insert_rows([("k1", "a", 1), ("k2", "b", 2), ("k3", "a", 3)])
        t.flush()
        t.insert_rows([("k4", "a", 4), ("k5", "b", 5)])
        t.flush()
        # one part per (flush, partition value)
        assert t.partitions() == ["a", "b"]
        assert len(t.parts_in_partition("a")) == 2
        assert len(t.parts_in_partition("b")) == 2
        # merges stay inside one partition
        while t.perform_merge():
            pass
        parts_a = t.parts_in_partition("a")
        parts_b = t.parts_in_partition("b")
        assert len(parts_a) == 1 and len(parts_b) == 1
        assert parts_a[0].row_count == 3 and parts_b[0].row_count == 2
        # partition-scoped read opens only that partition's files
        got = {r["key"] for r in t.query_partition("a").collect()}
        assert got == {"k1", "k3", "k4"}
        files = t.query_partition("a").inputFiles()
        assert all(parts_b[0].path not in f for f in files)
        # DROP PARTITION: manifest-only, buffer rows of the partition too
        t.insert_rows([("k6", "b", 6)])
        removed = t.drop_partition("b")
        assert removed == 3  # 2 flushed + 1 buffered
        assert t.partitions() == ["a"]
        assert {r["key"] for r in t.query_all().collect()} == {"k1", "k3", "k4"}
    # partition tags survive reload
    with SparkMergeTree(spark, base_path, config=cfg) as t2:
        assert t2.partitions() == ["a"]
        assert len(t2.parts_in_partition("a")) == 1


def test_minmax_skip_index_prunes_parts(spark, base_path):
    """minmax_cols: value-range reads prune parts via manifest col stats,
    results are unchanged vs a full filter, and the stats survive reload
    + manifest-less recovery."""
    import shutil as _shutil

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("key", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("amount", T.LongType(), True),
    ])
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=10,
                          minmax_cols=("amount",),
                          key_col="key", ts_col="ts")
    with SparkMergeTree(spark, base_path, schema=schema, config=cfg) as t:
        # three amount-banded parts: [0,9], [100,109], [1000,1009]
        for base in (0, 100, 1000):
            t.insert_rows([(f"k{base}_{i}", i, base + i) for i in range(10)])
            t.flush()
        assert t.part_count() == 3
        # range hitting only the middle band scans exactly one part
        assert len(t.parts_for_col_range("amount", 100, 120)) == 1
        got = {r["key"] for r in t.query_col_range("amount", 100, 120).collect()}
        assert got == {f"k100_{i}" for i in range(10)}
        # a no-part range scans nothing and returns nothing
        assert t.parts_for_col_range("amount", 200, 900) == []
        assert t.query_col_range("amount", 200, 900).count() == 0
        files = t.query_col_range("amount", 100, 120).inputFiles()
        assert len({f.rsplit("/", 2)[-2] for f in files}) == 1  # one part dir
    # stats survive manifest reload
    with SparkMergeTree(spark, base_path, schema=schema, config=cfg) as t2:
        assert len(t2.parts_for_col_range("amount", 1000, 2000)) == 1
        # and manifest-less recovery rebuilds them
        os.remove(os.path.join(base_path, "manifest.json"))
        with SparkMergeTree(spark, base_path, schema=schema, config=cfg) as t3:
            assert len(t3.parts_for_col_range("amount", 100, 120)) == 1
    _shutil.rmtree(base_path, ignore_errors=True)


def test_collapsing_mode_cancels_rows(spark, base_path):
    """mode="collapsing": +1/-1 sign pairs cancel across parts and
    merges; net state survives any merge schedule (the net-sign design —
    a cancel arriving in a later part still kills a previously-collapsed
    insert)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("key", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("val", T.StringType(), True),
        T.StructField("sign", T.IntegerType(), False),
    ])
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=1,
                          mode="collapsing", key_col="key", ts_col="ts")
    with SparkMergeTree(spark, base_path, schema=schema, config=cfg) as t:
        t.insert_rows([("a", 1, "x", 1), ("b", 1, "y", 1), ("c", 1, "z", 1)])
        t.flush()
        # part 2 cancels b and inserts d
        t.insert_rows([("b", 1, "y", -1), ("d", 1, "w", 1)])
        t.flush()
        live = {r["key"]: r["val"] for r in t.query_all().collect()}
        assert live == {"a": "x", "c": "z", "d": "w"}
        # physical merge collapses the cancellation; result unchanged
        assert t.merge_parts_sync()
        assert t.part_count() == 1
        live2 = {r["key"]: r["val"] for r in t.query_all().collect()}
        assert live2 == live
        # a cancel AFTER the merge still kills the collapsed row, and a
        # cancel with no matching insert stays invisible
        t.insert_rows([("a", 1, "x", -1), ("ghost", 1, None, -1)])
        live3 = {r["key"]: r["val"] for r in t.query_all().collect()}
        assert live3 == {"c": "z", "d": "w"}


def test_versioned_collapsing_order_independent(spark, base_path):
    """mode="versioned_collapsing": a -1 row cancels ONLY the +1 row with
    the same version, so the collapsed state is identical under every
    delivery order — including cancel-before-insert, which plain
    collapsing's order-sensitive contract cannot express."""
    import itertools

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("key", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("version", T.IntegerType(), False),
        T.StructField("val", T.StringType(), True),
        T.StructField("sign", T.IntegerType(), False),
    ])
    # a@v1 cancelled and replaced by a@v2; b@v1 untouched; c@v1
    # cancelled with no replacement
    batches = [
        [("a", 1, 1, "old", -1), ("c", 1, 1, "gone", -1)],   # cancels FIRST
        [("a", 1, 1, "old", 1), ("b", 1, 1, "keep", 1),
         ("c", 1, 1, "gone", 1)],
        [("a", 1, 2, "new", 1)],
    ]
    expected = {("a", 2): "new", ("b", 1): "keep"}
    for order in itertools.permutations(range(3)):
        cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=1,
                              mode="versioned_collapsing",
                              key_col="key", ts_col="ts")
        path = os.path.join(base_path, "perm" + "".join(map(str, order)))
        with SparkMergeTree(spark, path, schema=schema, config=cfg) as t:
            for i in order:
                t.insert_rows(batches[i])
                t.flush()
            live = {(r["key"], r["version"]): r["val"]
                    for r in t.query_all().collect()}
            assert live == expected, (order, live)
            assert t.merge_parts_sync()
            live2 = {(r["key"], r["version"]): r["val"]
                     for r in t.query_all().collect()}
            assert live2 == expected, (order, live2)


def test_materialized_view_incremental_rollup(spark, tmp_path):
    """MaterializedView: per-block transform into a summing target equals
    the one-shot aggregate of everything inserted, across every ingest
    path (insert / insert_rows / insert_batch) and a target merge."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from clickhouse_mergetree_spark.engine import MaterializedView

    tgt_schema = T.StructType([
        T.StructField("key", T.StringType(), False),
        T.StructField("zero", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
    ])
    src = SparkMergeTree(
        spark, str(tmp_path / "src"),
        config=MergeTreeConfig(memtable_flush_threshold=10**9))
    mv = MaterializedView(
        SparkMergeTree(
            spark, str(tmp_path / "tgt"), schema=tgt_schema,
            config=MergeTreeConfig(memtable_flush_threshold=10**9,
                                   max_parts=1, mode="summing",
                                   key_col="key", ts_col="zero")),
        lambda df: df.groupBy("key").agg(
            F.lit(0).cast("long").alias("zero"),
            F.count("*").alias("n")).select("key", "zero", "n"))
    src.attach_view(mv)

    src.insert("a", "v1", 1)
    src.insert_rows([("a", "v2", 2), ("b", "v3", 3)])
    src.insert_batch(spark.createDataFrame(
        [("b", "v4", 4), ("c", "v5", 5)], src.schema))
    mv.flush()
    got = {r["key"]: r["n"] for r in mv.query().collect()}
    assert got == {"a": 2, "b": 2, "c": 1}
    # dedup-mode target is rejected (it would drop partials)
    with pytest.raises(ValueError):
        MaterializedView(src, lambda df: df)
    src.close()
    mv.close()


def test_materialized_view_populate_backfills(spark, tmp_path):
    """attach_view(populate=True): CREATE MATERIALIZED VIEW ... POPULATE —
    pre-attach contents backfill through the transform, then later
    inserts accumulate incrementally on top."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from clickhouse_mergetree_spark.engine import MaterializedView

    tgt_schema = T.StructType([
        T.StructField("key", T.StringType(), False),
        T.StructField("zero", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
    ])
    src = SparkMergeTree(
        spark, str(tmp_path / "psrc"),
        config=MergeTreeConfig(memtable_flush_threshold=10**9))
    # rows inserted BEFORE the view exists
    src.insert_rows([("a", "v1", 1), ("a", "v2", 2), ("b", "v3", 3)])
    src.flush()
    mv = MaterializedView(
        SparkMergeTree(
            spark, str(tmp_path / "ptgt"), schema=tgt_schema,
            config=MergeTreeConfig(memtable_flush_threshold=10**9,
                                   max_parts=1, mode="summing",
                                   key_col="key", ts_col="zero")),
        lambda df: df.groupBy("key").agg(
            F.lit(0).cast("long").alias("zero"),
            F.count("*").alias("n")).select("key", "zero", "n"))
    src.attach_view(mv, populate=True)
    mv.flush()
    assert {r["key"]: r["n"] for r in mv.query().collect()} == \
        {"a": 2, "b": 1}
    # incremental on top of the backfill
    src.insert_rows([("b", "v4", 4), ("c", "v5", 5)])
    mv.flush()
    assert {r["key"]: r["n"] for r in mv.query().collect()} == \
        {"a": 2, "b": 2, "c": 1}
    src.close()
    mv.close()


# --------------------------------------------------------- demo test_flush

def test_memtable_flush(spark, base_path):
    """examples/demo.cpp:40-64 — threshold 10, 25 inserts → 2 auto-flushes,
    manual flush drains the remaining 5."""
    cfg = MergeTreeConfig(memtable_flush_threshold=10)
    t = SparkMergeTree(spark, base_path, config=cfg)
    for i in range(25):
        t.insert(f"key{i}", f"value{i}", i * 1000)
    assert t.part_count() == 2
    assert t.total_rows() == 25  # buffer rows counted without a scan

    t.flush()
    assert t.part_count() == 3
    assert t.total_rows() == 25
    assert t.disk_usage() > 0

    # flush of an empty buffer is a no-op, not an empty part
    assert t.flush() is None
    assert t.part_count() == 3
    t.close()


def test_query_sees_buffer_and_parts(spark, base_path):
    """Union of memtable + parts (R15, reference src/merge_tree.cpp:37-63)."""
    cfg = MergeTreeConfig(memtable_flush_threshold=1000)
    with SparkMergeTree(spark, base_path, config=cfg) as t:
        t.insert("a", "flushed", 1)
        t.flush()
        t.insert("b", "buffered", 2)
        got = _rows(t.query("a", "b"))
        assert got == [("a", "flushed", 1), ("b", "buffered", 2)]


# --------------------------------------------------------- demo test_merge

def test_merge_operations(spark, base_path):
    """examples/demo.cpp:66-98 — parts shrink to ≤ max_parts, row multiset
    preserved, range query still correct on merged data."""
    cfg = MergeTreeConfig(memtable_flush_threshold=20, max_parts=3)
    t = SparkMergeTree(spark, base_path, config=cfg)
    expected = []
    for batch in range(10):
        rows = [
            (f"batch{batch}_key{i}", f"value_{batch}_{i}", batch * 1000 + i)
            for i in range(25)
        ]
        expected.extend(rows)
        t.insert_rows(rows)

    before = t.part_count()
    assert before > cfg.max_parts
    assert t.total_rows() == 250

    t.optimize()

    assert t.part_count() <= cfg.max_parts
    assert t.total_rows() == 250  # multiset preserved (no dups in input)
    # old part dirs reclaimed (unlike the reference, which leaks them)
    live = {os.path.basename(p.path) for p in t.manifest.parts}
    on_disk = {d for d in os.listdir(t.base_path) if d.startswith("part_")}
    assert on_disk == live

    got = _rows(t.query("batch0", "batch3"))
    want = sorted(r for r in expected if "batch0" <= r[0] <= "batch3")
    assert got == want
    t.close()


def test_merge_collapses_cross_part_duplicates(spark, base_path):
    """Compaction dedups exact (key,ts) pairs that live in different parts
    (reference k-way merge semantics, src/merger.cpp:7-59)."""
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=1)
    t = SparkMergeTree(spark, base_path, config=cfg)
    t.insert_rows([("k", "v", 1), ("x", "x1", 5)])
    t.flush()
    t.insert_rows([("k", "v", 1), ("y", "y1", 6)])  # same (k,1) again
    t.flush()
    assert t.part_count() == 2
    assert t.perform_merge()
    assert t.part_count() == 1
    assert t.manifest.total_rows() == 3  # dup physically collapsed
    assert _rows(t.query_all()) == [("k", "v", 1), ("x", "x1", 5), ("y", "y1", 6)]
    t.close()


def _pm(pid, size, rows=10, partition=None, blocks=None):
    from clickhouse_mergetree_spark.engine import PartMeta
    lo, hi = blocks or (pid, pid)
    return PartMeta(part_id=pid, path=f"/p/{pid}", min_key="a", max_key="z",
                    min_ts=0, max_ts=1, row_count=rows, disk_size=size,
                    partition=partition, min_block=lo, max_block=hi)


def test_merge_scoring_and_selection():
    """Driver-side merge policy (merger.py): adjacent runs of 2 or 3 parts
    in insert order, cheapest bytes per part removed first."""
    # parts 1 and 3 are the cheapest pair, but part 2 sits between them
    # in insert order, even though it comes last in the list
    parts = [_pm(1, 10), _pm(3, 10), _pm(4, 500), _pm(2, 400)]
    cands = select_merge_candidates(parts)
    assert [c.part_ids for c in cands] == [
        [1, 2, 3], [1, 2], [2, 3], [2, 3, 4], [3, 4]]
    assert [c.cost for c in cands] == [210, 410, 410, 455, 510]
    # sorted by cost; the tie at 410 goes to the older run
    assert all(len(c.part_ids) in (2, 3) for c in cands)
    assert cands[0].total_rows == 30 and cands[0].total_size == 420
    # insert order is the span, not the part id: a merged part spans the
    # inserts it holds
    cands = select_merge_candidates(
        [_pm(9, 100, blocks=(1, 4)), _pm(5, 1), _pm(6, 1)])
    assert [c.part_ids for c in cands][:2] == [[5, 6], [9, 5, 6]]
    # unknown stats: no run through a recovered part (row_count -1) or
    # one without a size
    cands = select_merge_candidates(
        [_pm(1, 10), _pm(2, 10, rows=-1), _pm(3, 10), _pm(4, 10),
         _pm(5, -1), _pm(6, 0)])
    assert [c.part_ids for c in cands] == [[3, 4]]
    # runs never cross partitions
    cands = select_merge_candidates(
        [_pm(1, 10, partition="a"), _pm(2, 10, partition="b"),
         _pm(3, 10, partition="a"), _pm(4, 10, partition="b")])
    assert sorted(c.part_ids for c in cands) == [[1, 3], [2, 4]]
    assert select_merge_candidates([_pm(1, 1024)]) == []
    # O(parts), not O(parts^2): at most 2N - 3 candidates
    assert len(select_merge_candidates(
        [_pm(i, 100 + i % 7) for i in range(1, 1001)])) == 1997


def test_merge_selection_write_amplification():
    """engine_ingest's merge schedule with sizes proportional to rows: 11
    seed parts and one merge, then per batch a flush and, over
    max_parts=10, one merge. Bytes written by flushes plus merges, over
    bytes flushed, stays near the log of the batch count."""
    def write_amp(batches: int) -> float:
        parts, flushed, merged = [], 0, 0
        next_id = iter(range(1, 10**6))

        def flush():
            nonlocal flushed
            parts.append(_pm(next(next_id), 5000))
            flushed += 5000

        def merge():
            nonlocal merged
            if len(parts) <= 10:
                return
            best = select_merge_candidates(parts)[0]
            runs = [p for p in parts if p.part_id in best.part_ids]
            for p in runs:
                parts.remove(p)
            parts.append(_pm(next(next_id), best.total_size, blocks=(
                min(p.blocks[0] for p in runs),
                max(p.blocks[1] for p in runs))))
            merged += best.total_size

        for _ in range(11):
            flush()
        merge()
        for _ in range(batches):
            flush()
            merge()
        return (flushed + merged) / flushed

    assert write_amp(11) <= 2
    assert write_amp(200) <= 10


# --------------------------------------------------- demo test_persistence

def test_persistence(spark, base_path):
    """examples/demo.cpp:155-190 — reopen sees the same parts and data."""
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9)
    t = SparkMergeTree(spark, base_path, config=cfg)
    t.insert_rows([(f"persistent_key{i:03d}", f"persistent_value{i}", i * 1000)
                   for i in range(100)])
    t.flush()
    parts_before = t.part_count()
    t.close()

    t2 = SparkMergeTree(spark, base_path, config=cfg)
    assert t2.part_count() == parts_before
    assert t2.total_rows() == 100
    got = _rows(t2.query("persistent_key050", "persistent_key060"))
    assert [r[0] for r in got] == [f"persistent_key{i:03d}" for i in range(50, 61)]
    # id counter resumed — new flush must not overwrite an existing part
    t2.insert("zzz", "after-reopen", 1)
    new_id = t2.flush()
    assert new_id == parts_before + 1
    t2.close()


def test_recovery_from_corrupt_manifest(spark, base_path):
    """A truncated/garbage manifest.json must degrade to directory-scan
    recovery, not crash the table open."""
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9)
    t = SparkMergeTree(spark, base_path, config=cfg)
    t.insert_rows([("a", "1", 1), ("b", "2", 2)])
    t.flush()
    t.close()

    with open(os.path.join(base_path, "manifest.json"), "w") as f:
        f.write('{"next_part_id": 2, "parts": [{"truncated...')
    t2 = SparkMergeTree(spark, base_path, config=cfg)
    assert t2.part_count() == 1
    assert t2.total_rows() == 2
    assert _rows(t2.query_all()) == [("a", "1", 1), ("b", "2", 2)]
    t2.close()


def test_recovery_without_manifest(spark, base_path):
    """Manifest lost → directory-scan recovery rebuilds part metadata
    (reference src/merge_tree.cpp:164-197)."""
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9)
    t = SparkMergeTree(spark, base_path, config=cfg)
    t.insert_rows([("a", "1", 1), ("m", "2", 2)])
    t.flush()
    t.insert_rows([("n", "3", 3), ("z", "4", 4)])
    t.flush()
    t.close()

    os.remove(os.path.join(base_path, "manifest.json"))
    t2 = SparkMergeTree(spark, base_path, config=cfg)
    assert t2.part_count() == 2
    assert t2.total_rows() == 4
    # rebuilt min/max drive pruning again
    metas = sorted(t2.manifest.parts, key=lambda p: p.part_id)
    assert (metas[0].min_key, metas[0].max_key) == ("a", "m")
    assert (metas[1].min_key, metas[1].max_key) == ("n", "z")
    assert _rows(t2.query("a", "z")) == [
        ("a", "1", 1), ("m", "2", 2), ("n", "3", 3), ("z", "4", 4)]
    t2.close()


# ----------------------------------------------------------- pruning proof

def test_manifest_pruning_skips_part_files(spark, base_path):
    """R8 proof: a range query touching one part's key range must not read
    the other parts' files at all (Spark analog of reference
    src/part.cpp:201-203 min/max pruning)."""
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9)
    t = SparkMergeTree(spark, base_path, config=cfg)
    t.insert_rows([(f"a{i:02d}", "v", i) for i in range(50)])
    t.flush()
    t.insert_rows([(f"m{i:02d}", "v", i) for i in range(50)])
    t.flush()
    t.insert_rows([(f"z{i:02d}", "v", i) for i in range(50)])
    t.flush()
    assert t.part_count() == 3

    pruned = t.manifest.prune("m00", "m99")
    assert [os.path.basename(p.path) for p in pruned] == ["part_2"]

    df = t.query("m00", "m99")
    files = df.inputFiles()
    assert files, "plan should read exactly the one overlapping part"
    assert all("/part_2/" in f for f in files)
    assert df.count() == 50
    t.close()


def test_point_lookup_prunes(spark, base_path):
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9)
    t = SparkMergeTree(spark, base_path, config=cfg)
    t.insert_rows([("a", "1", 1)])
    t.flush()
    t.insert_rows([("q", "2", 2)])
    t.flush()
    df = t.query_key("q")
    assert all("/part_2/" in f for f in df.inputFiles())
    assert _rows(df) == [("q", "2", 2)]
    t.close()


def test_multifile_part_has_disjoint_key_ranges(spark, base_path):
    """A part bigger than rows_per_file splits into range-partitioned files
    whose key ranges are disjoint — the property that lets parquet footer
    stats prune at file level inside one part (R12 analog)."""
    import glob

    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, rows_per_file=100)
    t = SparkMergeTree(spark, base_path, config=cfg)
    t.insert_rows([(f"k{i:04d}", "v", i) for i in range(400)])
    pid = t.flush()

    part_dir = next(p.path for p in t.manifest.parts if p.part_id == pid)
    files = sorted(glob.glob(os.path.join(part_dir, "*.parquet")))
    assert len(files) >= 3  # 400 rows / 100 per file, range-partitioned

    ranges = []
    for f in files:
        rows = spark.read.parquet(f).agg(
            {"key": "min"}).collect()[0][0], spark.read.parquet(f).agg(
            {"key": "max"}).collect()[0][0]
        ranges.append(rows)
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"file ranges overlap: {ranges}"

    assert _rows(t.query("k0150", "k0250")) == [
        (f"k{i:04d}", "v", i) for i in range(150, 251)]
    t.close()


def test_concurrent_merges_preserve_rows(spark, base_path):
    """R41: user-thread optimize() racing another merge thread must never
    double-apply a candidate (merge rounds are serialized; reads/flushes
    stay concurrent)."""
    import threading

    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=1)
    t = SparkMergeTree(spark, base_path, config=cfg)
    for b in range(6):
        t.insert_rows([(f"k{b}_{i:02d}", "v", b * 100 + i) for i in range(20)])
        t.flush()
    assert t.part_count() == 6

    errs = []

    def hammer():
        try:
            while t.should_trigger_merge():
                t.perform_merge()
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=hammer) for _ in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert t.part_count() == 1
    assert t.total_rows() == 120  # no duplication, no loss
    assert t.query_all().count() == 120
    t.close()


def test_background_maintenance(spark, base_path):
    """R31: timer thread flushes and merges without explicit calls
    (reference src/merge_tree.cpp:207-226)."""
    cfg = MergeTreeConfig(memtable_flush_threshold=10, max_parts=2,
                          merge_interval_seconds=0.2,
                          enable_background_merge=True)
    t = SparkMergeTree(spark, base_path, config=cfg)
    try:
        for i in range(60):
            t.insert(f"k{i:02d}", "v", i)
        deadline = time.time() + 30
        while t.part_count() > cfg.max_parts and time.time() < deadline:
            time.sleep(0.2)
        assert t.part_count() <= cfg.max_parts
        assert t.total_rows() == 60
    finally:
        t.close()


# ------------------------------------------------- aggregating merge mode

def test_aggregating_mode_states_combine_per_column(spark, base_path):
    """AggregatingMergeTree analog: per-column sum/min/max states combine
    identically whether collapsed by merges or finalized at read."""
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("key", T.LongType(), False),
        T.StructField("bucket", T.LongType(), False),
        T.StructField("v_sum", T.DecimalType(18, 6), True),
        T.StructField("v_min", T.DoubleType(), True),
        T.StructField("v_max", T.DoubleType(), True),
        T.StructField("n", T.LongType(), False),
    ])
    cfg = MergeTreeConfig(
        memtable_flush_threshold=10**12, max_parts=10, mode="aggregating",
        agg_cols={"v_sum": "sum", "v_min": "min", "v_max": "max", "n": "sum"},
        key_col="key", ts_col="bucket")
    rows = [(k % 5, (k % 3) * 10, Decimal(k), float(k), float(k), 1)
            for k in range(90)]
    with SparkMergeTree(spark, base_path, schema=schema, config=cfg) as t:
        for i in range(3):
            t.insert_rows(rows[i * 30:(i + 1) * 30])
            t.flush()
        # read-time finalization over 3 partial parts
        pre = {(r["key"], r["bucket"]): (r["v_sum"], r["v_min"], r["v_max"],
                                         r["n"])
               for r in t.query_all().collect()}
        # physical collapse via merges must not change the states
        t.config.max_parts = 1
        t.optimize()
        assert t.part_count() == 1
        post = {(r["key"], r["bucket"]): (r["v_sum"], r["v_min"], r["v_max"],
                                          r["n"])
                for r in t.query_all().collect()}
        assert post == pre
        # ground truth from the raw rows
        want = {}
        for k, b, s, mn, mx, n in rows:
            ps, pmn, pmx, pn = want.get((k, b), (Decimal(0), float("inf"),
                                                 float("-inf"), 0))
            want[(k, b)] = (ps + s, min(pmn, mn), max(pmx, mx), pn + n)
        assert post == want


def test_aggregating_mode_rejects_unknown_fn(spark, base_path):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("key", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("v", T.DoubleType(), True),
    ])
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, mode="aggregating",
                          agg_cols={"v": "avg"}, key_col="key", ts_col="ts")
    with SparkMergeTree(spark, base_path, schema=schema, config=cfg) as t:
        t.insert_rows([(1, 1, 1.0)])
        with pytest.raises(ValueError, match="unsupported agg_cols"):
            t.query_all().collect()


def test_system_parts_reflects_lifecycle(spark, base_path):
    """system.parts introspection: stats match the data, and the view
    tracks flush → merge → mutation transitions."""
    cfg = MergeTreeConfig(memtable_flush_threshold=100, max_parts=10)
    with SparkMergeTree(spark, base_path, config=cfg) as t:
        for b in range(3):
            t.insert_rows([(f"k{b}_{i:03d}", f"v{i}", b * 1000 + i)
                           for i in range(50)])
            t.flush()
        parts = {r["part_id"]: r for r in t.system_parts().collect()}
        assert len(parts) == 3
        assert all(r["row_count"] == 50 for r in parts.values())
        assert parts[2]["min_key"] == "k1_000"
        assert parts[2]["max_key"] == "k1_049"
        assert parts[1]["has_bloom"] and not parts[1]["has_minmax"]
        assert sum(r["disk_bytes"] for r in parts.values()) == t.disk_usage()
        t.config.max_parts = 1
        t.optimize()
        merged = t.system_parts().collect()
        assert len(merged) == 1 and merged[0]["row_count"] == 150


def test_replacing_mode_order_independent(spark, base_path):
    """mode="replacing": max-version wins, tombstones (is_deleted) hide the
    key and cannot be resurrected by a later-arriving lower version —
    identical live state under every delivery order and with/without
    compaction."""
    import itertools

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("key", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("version", T.IntegerType(), False),
        T.StructField("val", T.StringType(), True),
        T.StructField("is_deleted", T.IntegerType(), False),
    ])
    # a: v1 then updated at v2; b: only v1; c: v1 then DELETED at v2;
    # d: deleted at v2 with its v1 insert arriving in a later batch
    batches = [
        [("a", 1, 2, "a_new", 0), ("c", 1, 2, None, 1)],
        [("a", 1, 1, "a_old", 0), ("b", 1, 1, "b", 0), ("d", 1, 2, None, 1)],
        [("c", 1, 1, "c_old", 0), ("d", 1, 1, "d_old", 0)],
    ]
    expected = {("a", 2): "a_new", ("b", 1): "b"}
    for order in itertools.permutations(range(3)):
        cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=1,
                              mode="replacing", key_col="key", ts_col="ts",
                              version_col="version",
                              deleted_col="is_deleted")
        path = os.path.join(base_path, "repl" + "".join(map(str, order)))
        with SparkMergeTree(spark, path, schema=schema, config=cfg) as t:
            for i in order:
                t.insert_rows(batches[i])
                t.flush()
            live = {(r["key"], r["version"]): r["val"]
                    for r in t.query_all().collect()}
            assert live == expected, (order, live)
            assert t.merge_parts_sync()
            live2 = {(r["key"], r["version"]): r["val"]
                     for r in t.query_all().collect()}
            assert live2 == expected, (order, live2)


def test_detach_attach_partition_persistence(spark, base_path):
    """DETACH parks parts on disk (renamed detached_part_<id>) and survives
    close/reopen; ATTACH restores the same part ids; a manifest-LESS
    recovery rescan does NOT resurrect detached parts."""
    import os as _os

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("key", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("part", T.StringType(), True),
    ])
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=10,
                          partition_col="part", key_col="key", ts_col="ts")
    path = os.path.join(base_path, "detach")
    with SparkMergeTree(spark, path, schema=schema, config=cfg) as t:
        t.insert_rows([("a", 1, "p0"), ("b", 1, "p1"), ("c", 1, "p0")])
        t.flush()
        assert t.system_detached_parts().count() == 0
        assert t.detach_partition("p0") == 2
        assert t.query_all().count() == 1
        # idempotent: nothing left to detach
        assert t.detach_partition("p0") == 0
        # system.detached_parts reports the parked part, metadata-only
        (dp,) = t.system_detached_parts().collect()
        assert (dp["partition"], dp["row_count"]) == ("p0", 2)

    # reopen from manifest: detached stays detached
    with SparkMergeTree(spark, path, schema=schema, config=cfg) as t2:
        assert t2.query_all().count() == 1
        assert t2.attach_partition("p0") == 2
        assert t2.query_all().count() == 3
        assert t2.detach_partition("p1") == 1

    # manifest-less recovery: rescan must not resurrect detached p1
    _os.remove(os.path.join(path, "manifest.json"))
    with SparkMergeTree(spark, path, schema=schema, config=cfg) as t3:
        rows = {r["key"] for r in t3.query_all().collect()}
        assert rows == {"a", "c"}, rows


def test_truncate_clears_live_keeps_detached_and_frozen(spark, base_path):
    """TRUNCATE drops live parts + buffer in one metadata commit; detached
    parts and FREEZE backups survive and restore afterwards."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("key", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("part", T.StringType(), True),
    ])
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=10,
                          partition_col="part", key_col="key", ts_col="ts")
    path = os.path.join(base_path, "trunc")
    with SparkMergeTree(spark, path, schema=schema, config=cfg) as t:
        t.insert_rows([("a", 1, "p0"), ("b", 1, "p1"), ("c", 1, "p0")])
        t.flush()
        t.freeze_partition(backup_name="pre")
        t.detach_partition("p1")
        t.insert_rows([("d", 2, "p0")])  # buffered only
        assert t.truncate() == 3         # 2 live + 1 buffered
        assert t.query_all().count() == 0
        assert t.part_count() == 0
        # detached survives truncate and re-attaches
        assert t.attach_partition("p1") == 1
        assert {r["key"] for r in t.query_all().collect()} == {"b"}
        # frozen backup survives and restores additively
        got = t.restore_frozen("pre")
        assert got["rows"] == 3
        assert {r["key"] for r in t.query_all().collect()} == {"a", "b", "c"}


def test_too_many_parts_insert_guard(spark, base_path):
    """parts_to_throw_insert: inserts refuse once a partition's live part
    count reaches the limit; merging below it re-admits inserts."""
    import pytest as _pt
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("key", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("v", T.LongType(), True),
    ])
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=2,
                          key_col="key", ts_col="ts", max_parts_to_throw=3)
    path = os.path.join(base_path, "throwparts")
    with SparkMergeTree(spark, path, schema=schema, config=cfg) as t:
        for i in range(3):
            t.insert_rows([(i, i, i)])
            t.flush()
        with _pt.raises(RuntimeError, match="Too many parts"):
            t.insert_rows([(99, 99, 99)])
        t.optimize()                      # compact below the limit
        assert t.part_count() < 3
        t.insert_rows([(99, 99, 99)])     # re-admitted
        t.flush()
        assert t.total_rows() == 4


def test_part_compression_codec(spark, base_path):
    """part_compression: parquet files carry the configured codec suffix;
    default tables keep the session default."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("key", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
    ])
    path = os.path.join(base_path, "zstd_tbl")
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9,
                          key_col="key", ts_col="ts",
                          part_compression="zstd")
    with SparkMergeTree(spark, path, schema=schema, config=cfg) as t:
        t.insert_rows([(i, i) for i in range(100)])
        t.flush()
        (p,) = t.manifest.parts
        files = [f for f in os.listdir(p.path) if f.endswith(".parquet")]
        assert files and all(".zstd." in f for f in files), files
        assert t.query_all().count() == 100
        # merges re-encode with the table codec too
        t.insert_rows([(i, i + 1) for i in range(100)])
        t.optimize(final=True)
        (p2,) = t.manifest.parts
        files2 = [f for f in os.listdir(p2.path) if f.endswith(".parquet")]
        assert all(".zstd." in f for f in files2), files2


def test_explain_estimate(spark, base_path):
    """EXPLAIN ESTIMATE: metadata-only scan estimates honor key-range and
    partition pruning and report buffered rows separately."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("key", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("part", T.StringType(), True),
    ])
    path = os.path.join(base_path, "estimate")
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=10,
                          key_col="key", ts_col="ts", partition_col="part")
    with SparkMergeTree(spark, path, schema=schema, config=cfg) as t:
        t.insert_rows([(k, k, "p0") for k in range(10)])
        t.flush()
        t.insert_rows([(k, k, "p1") for k in range(100, 110)])
        t.flush()
        t.insert_rows([(200, 200, "p0")])        # buffered only
        est = t.explain_estimate()
        assert est["total"] == est["estimate"]
        assert est["total"]["parts"] == 2 and est["total"]["rows"] == 20
        assert est["buffered_rows"] == 1
        # key-range pruning: only the p1 part overlaps [100, 120]
        est = t.explain_estimate(100, 120)
        assert est["estimate"]["parts"] == 1
        assert est["estimate"]["rows"] == 10
        # partition scope composes with the range
        est = t.explain_estimate(0, 1000, partition="p0")
        assert est["estimate"]["parts"] == 1
        est = t.explain_estimate(100, 120, partition="p0")
        assert est["estimate"]["parts"] == 0
        # a point range also checks the key bloom: the even-key p1 part
        # overlaps the p0 part's [0, 9] but provably lacks key 3
        t.insert_rows([(k, 1000 + k, "p1") for k in range(0, 10, 2)])
        t.flush()
        assert len(t.manifest.prune(3, 3)) == 2
        assert len(t.parts_for_key(3)) == 1
        est = t.explain_estimate(3, 3)
        assert est["estimate"]["parts"] == len(t.parts_for_key(3))


def test_insert_batch_defer_count_contract(spark, tmp_path):
    """r13 optimization pin: defer_count=True buffers a block UNCOUNTED
    (no insert-time count job — the MV-maintenance double-execution fix)
    while every exact-accounting surface stays exact:

    - total_rows() resolves the deferred count on demand (pre-flush);
    - flush writes the part with the exact observed row count;
    - an uncounted block that evaluates EMPTY commits no part (the
      0-row-part guard, which would otherwise poison pruning stats).
    """
    from pyspark.sql import functions as F

    t = SparkMergeTree(
        spark, str(tmp_path / "defer"),
        config=MergeTreeConfig(memtable_flush_threshold=10**9))
    base = spark.createDataFrame(
        [("a", "v1", 1), ("b", "v2", 2), ("c", "v3", 3)], t.schema)
    t.insert_batch(base, defer_count=True)
    # buffered uncounted; total_rows resolves it lazily and exactly
    assert t.total_rows() == 3
    # a second uncounted block left unresolved until flush
    t.insert_batch(base.filter(F.col("key") == "a"), defer_count=True)
    t.flush()
    assert t.part_count() == 1
    assert t.manifest.parts[0].row_count == 4
    assert t.total_rows() == 4
    # an EMPTY uncounted block: flush must not commit a 0-row part
    t.insert_batch(base.filter(F.col("key") == "zzz"), defer_count=True)
    t.flush()
    assert t.part_count() == 1
    assert t.total_rows() == 4
    t.close()


def test_match_counts_one_job_equals_per_part_counts(spark, tmp_path):
    """mutate()/materialize_deletes() probe their candidates with ONE
    groupBy(part id) job over a part-id-tagged scan; its per-part
    results must be identical to a per-part filter().count() wave —
    across two schema groups (ADD COLUMN between flushes), under a live
    lightweight-delete mask, and under a base path that itself contains
    a part_7/ directory (the id comes from the dir holding the file)."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "part_7" / "t")
    cfg = MergeTreeConfig(memtable_flush_threshold=100, max_parts=10)
    with SparkMergeTree(spark, base, config=cfg) as t:
        for band in range(2):
            t.insert_rows([(f"k{band}_{i}", f"v{i}", band * 100 + i)
                           for i in range(20)])
            t.flush()
        t.add_column("extra", "bigint", default=5)
        for band in range(2, 4):
            t.insert_batch(spark.createDataFrame(
                [(f"k{band}_{i}", f"v{i}", band * 100 + i, i)
                 for i in range(20)], t.schema))
            t.flush()
        t.lightweight_delete("timestamp % 5 = 1")
        cands = list(t.manifest.parts)
        assert len(cands) == 4
        assert len({tuple(p.columns) for p in cands}) == 2

        def per_part(hit=None):
            return [(t._read_parts([p]).filter(hit) if hit is not None
                     else t._read_parts([p])).count() for p in cands]

        hit = F.col("timestamp") % 2 == 0  # matches some rows per part
        assert t._match_counts(cands, hit) == per_part(hit)
        on_added = F.col("extra") > 10     # the filled default never hits
        assert t._match_counts(cands, on_added) == per_part(on_added)
        assert t._match_counts(cands, on_added)[:2] == [0, 0]
        none = F.col("timestamp") < 0      # matches nothing: all zeros
        assert t._match_counts(cands, none) == [0, 0, 0, 0]
        # no predicate (materialize_deletes shape): masked per-part counts
        assert t._match_counts(cands) == per_part() == [16] * 4
        assert t._match_counts(cands[2:3]) == [16]
        assert t._match_counts([]) == []


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group: (result, job count, stage
    count). Every exchange adds a stage, so one job of one stage means
    the work ran as a single shuffle-free job."""
    import uuid

    sc = spark.sparkContext
    gid = f"gate_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    ids = st.getJobIdsForGroup(gid)
    return out, len(ids), sum(len(st.getJobInfo(j).stageIds) for j in ids)


def _has_exchange(df) -> bool:
    return "Exchange" in df._jdf.queryExecution().executedPlan().toString()


def _gate_table(spark, path, **cfg):
    t = SparkMergeTree(spark, path, config=MergeTreeConfig(
        memtable_flush_threshold=10**9, max_parts=3, **cfg))
    for band in range(4):
        t.insert_rows([(f"k{(i * 7 + band) % 60:03d}", f"v{band}_{i}",
                        band * 1000 + i % 9) for i in range(60)])
        t.flush()
    return t


def test_part_sized_reads_and_merges_run_as_one_job(spark, tmp_path):
    """The one-task gate: when manifest row counts prove the input fits
    in one part file, a point lookup, a range count and a merge each
    start exactly one Spark job with no exchange; results equal the
    parallel plan's (rows_per_file below the input)."""
    one = _gate_table(spark, str(tmp_path / "one"))
    par = _gate_table(spark, str(tmp_path / "par"), rows_per_file=50)
    try:
        for t, single in ((one, True), (par, False)):
            assert _has_exchange(t.query_key("k007")) != single
            assert _has_exchange(t.query("k010", "k030")) != single
        got, jobs, stages = _jobs(spark,
                                  lambda: _rows(one.query_key("k007")))
        assert (jobs, stages) == (1, 1)
        assert got == _rows(par.query_key("k007")) and got
        n, jobs, stages = _jobs(spark,
                                lambda: one.query("k010", "k030").count())
        assert (jobs, stages) == (1, 1)
        assert n == par.query("k010", "k030").count() > 0
        _, pjobs, _ = _jobs(spark, lambda: par.query_key("k007").collect())
        assert pjobs > 1
        # merge: 4 parts > max_parts=3
        merged, jobs, stages = _jobs(spark, one.merge_parts_sync)
        assert merged and (jobs, stages) == (1, 1)
        merged, pjobs, _ = _jobs(spark, par.merge_parts_sync)
        assert merged and pjobs > 1
        assert one.part_count() == par.part_count() < 4
        assert _rows(one.query_all()) == _rows(par.query_all())
        # buffered (counted) rows still fit the proof
        one.insert_rows([("k007", "buffered", 5)])
        got, jobs, _ = _jobs(spark, lambda: _rows(one.query_key("k007")))
        assert jobs == 1 and ("k007", "buffered", 5) in got
    finally:
        one.close()
        par.close()


def test_unknown_sizes_keep_the_parallel_plan(spark, tmp_path):
    """Recovered parts (row_count < 0) and uncounted defer_count blocks
    give no size proof: reads keep today's plan, with equal results."""
    from pyspark.sql import functions as F

    t = _gate_table(spark, str(tmp_path / "t"))
    try:
        want_key = _rows(t.query_key("k007"))
        want_n = t.query("k010", "k030").count()
        p = t.manifest.parts[0]
        saved, p.row_count = p.row_count, -1
        assert _has_exchange(t.query_key("k007"))
        assert _rows(t.query_key("k007")) == want_key
        _, jobs, _ = _jobs(spark, lambda: t.query("k010", "k030").count())
        assert jobs > 1
        assert t.query("k010", "k030").count() == want_n
        p.row_count = saved
        extra = spark.createDataFrame([("k007", "deferred", 7)], t.schema)
        t.insert_batch(extra.filter(F.col("key") == "k007"),
                       defer_count=True)
        assert _has_exchange(t.query_key("k007"))
        assert _rows(t.query_key("k007")) == sorted(
            want_key + [("k007", "deferred", 7)], key=lambda r: r[2])
        _, jobs, _ = _jobs(spark, lambda: t.query("k010", "k030").count())
        assert jobs > 1
        assert t.query("k010", "k030").count() == want_n
    finally:
        t.close()


def test_inputs_above_one_task_bound_keep_the_parallel_plan(
        spark, tmp_path, monkeypatch):
    """The gate also stops at ONE_TASK_MAX_ROWS, and match-count probes
    at ONE_TASK_MAX_PROBE_ROWS (the measured crossovers), whatever
    rows_per_file allows."""
    from clickhouse_mergetree_spark.engine import merge_tree

    t = _gate_table(spark, str(tmp_path / "t"))
    try:
        assert not _has_exchange(t.query("k010", "k030"))
        want = _rows(t.query("k010", "k030"))
        parts = list(t.manifest.parts)
        counts, jobs, _ = _jobs(spark, lambda: t._match_counts(parts))
        assert jobs == 1 and counts == [60] * 4
        monkeypatch.setattr(merge_tree, "ONE_TASK_MAX_PROBE_ROWS", 100)
        again, jobs, _ = _jobs(spark, lambda: t._match_counts(parts))
        assert jobs > 1 and again == counts
        assert not _has_exchange(t.query("k010", "k030"))  # reads unchanged
        monkeypatch.setattr(merge_tree, "ONE_TASK_MAX_ROWS", 100)
        assert t.config.rows_per_file > 240
        assert _has_exchange(t.query("k010", "k030"))
        assert _rows(t.query("k010", "k030")) == want
        merged, jobs, _ = _jobs(spark, t.merge_parts_sync)
        assert merged and jobs > 1
    finally:
        t.close()


def test_background_maintenance_records_errors(spark, base_path):
    """A failing background merge must not vanish: the loop stays alive,
    and the table keeps the exception and its time as last_error."""
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=1,
                          merge_interval_seconds=0.05)
    with SparkMergeTree(spark, base_path, config=cfg) as t:
        for band in range(2):
            t.insert_rows([(f"k{band}_{i}", "v", i) for i in range(5)])
            t.flush()
        real, calls = t.perform_merge, []

        def flaky():
            calls.append(1)
            if len(calls) == 1:
                raise RuntimeError("disk full")
            return real()

        t.perform_merge = flaky
        before = time.time()
        t.start_background_maintenance()
        deadline = time.time() + 60
        while t.part_count() > 1 and time.time() < deadline:
            time.sleep(0.05)
        t.stop_background_maintenance()
        assert t.last_error is not None
        assert isinstance(t.last_error["error"], RuntimeError)
        assert str(t.last_error["error"]) == "disk full"
        assert before <= t.last_error["time"] <= time.time()
        assert len(calls) >= 2 and t.part_count() == 1  # loop survived
