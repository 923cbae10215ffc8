"""Per-part key bloom filter (data-skipping index).

Min/max pruning cannot skip a part whose key RANGE covers a point-lookup
key that the part doesn't actually contain (sparse keyspaces, post-merge
wide parts). The bloom closes that gap: these tests build parts with
interleaved keys — every part's [min,max] span covers every probe — and
pin that (a) lookups of keys present anywhere return exactly the right
rows, (b) lookups of keys absent from a part skip that part (no bloom
false negatives ever; false positives bounded by construction), (c) the
bloom survives the manifest round-trip and is rebuilt by manifest-less
recovery, and (d) the Spark-side hash used to BUILD the bitmap equals the
driver-side hash used to CHECK it, bit for bit.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import MergeTreeConfig, SparkMergeTree
from clickhouse_mergetree_spark.engine.manifest import (
    BLOOM_ALGO,
    BLOOM_CAP_BITS,
    BLOOM_K,
    Manifest,
    bloom_positions,
    bloom_size_for,
    bloom_to_hex,
)
from clickhouse_mergetree_spark.engine.merge_tree import bloom_position_cols

SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), False),
    T.StructField("value", T.StringType(), False),
    T.StructField("timestamp", T.LongType(), False),
])


@pytest.fixture()
def table(spark):
    base = tempfile.mkdtemp(prefix="bloom_tbl_")
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=100)
    t = SparkMergeTree(spark, base, schema=SCHEMA, config=cfg)
    yield t
    t.close()
    shutil.rmtree(base, ignore_errors=True)


def _flush_keys(table, keys, ts=1):
    table.insert_rows([(f"k{k:04d}", f"v{k}", ts) for k in keys])
    table.flush()


def test_point_lookup_skips_bloom_negative_parts(table):
    # two parts, interleaved keys: both spans are [k0000..k0099]-ish so
    # min/max pruning keeps BOTH for any probe in range
    _flush_keys(table, range(0, 100, 2))      # even keys
    _flush_keys(table, list(range(1, 100, 2)) + [0, 98])  # odd + 2 evens
    assert table.part_count() == 2
    evens_only = [k for k in range(2, 98, 2)]

    # range pruning alone keeps both parts for an even probe...
    probe = "k0050"
    assert len(table.manifest.prune(probe, probe)) == 2
    # ...the bloom drops the odd part
    scanned = table.parts_for_key(probe)
    assert len(scanned) == 1
    # and the result is still exactly right
    rows = table.query_key(probe).collect()
    assert [(r["key"], r["value"]) for r in rows] == [("k0050", "v50")]


def test_no_false_negatives_for_every_present_key(table):
    _flush_keys(table, range(0, 200, 3))
    part = table.manifest.parts[0]
    for k in range(0, 200, 3):
        assert part.may_contain_key(f"k{k:04d}"), f"false negative on k{k}"


def test_false_positive_rate_bounded(table):
    _flush_keys(table, range(0, 500))
    part = table.manifest.parts[0]
    # probe 2000 keys that are NOT in the part
    fp = sum(part.may_contain_key(f"absent{i}") for i in range(2000))
    # 16 bits/key at k=5 → ~1% theoretical; allow generous slack
    assert fp / 2000 < 0.05, f"false positive rate {fp/2000:.3f}"


def test_bloom_survives_manifest_roundtrip(spark, table):
    _flush_keys(table, range(0, 50))
    reloaded = Manifest.load(table.base_path)
    p = reloaded.parts[0]
    assert p.bloom_hex == table.manifest.parts[0].bloom_hex
    assert p.bloom_bits == table.manifest.parts[0].bloom_bits
    assert p.may_contain_key("k0001") and not p.may_contain_key("nope")


def test_recovery_rebuilds_bloom(spark, table):
    import os

    _flush_keys(table, range(0, 50, 2))
    base = table.base_path
    os.remove(table.manifest.file_path)  # simulate lost manifest
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9)
    recovered = SparkMergeTree(spark, base, schema=SCHEMA, config=cfg)
    p = recovered.manifest.parts[0]
    assert p.bloom_hex, "recovery did not rebuild the bloom"
    assert p.may_contain_key("k0002")
    assert len(recovered.parts_for_key("k0001")) == 0  # odd key: bloom says no


def test_merged_part_gets_bloom_and_lookups_stay_correct(table):
    for lo in range(0, 6):
        _flush_keys(table, range(lo, 60, 6))
    table.config.max_parts = 2
    table.optimize()
    assert table.part_count() <= 2
    for p in table.manifest.parts:
        assert p.bloom_hex, "merged part lacks a bloom"
    rows = table.query_key("k0037").collect()
    assert [(r["key"], r["value"]) for r in rows] == [("k0037", "v37")]


def test_spark_hash_matches_driver_hash(spark):
    """The build-side positions (the engine's own Spark expression) and
    the check-side ones (hashlib md5 on the driver) must agree exactly —
    over the empty string, multi-byte UTF-8, and keys past one 64-byte
    MD5 block."""
    keys = ["k0001", "7", "hello world", "", "k9999", "é漢字🙂",
            "x" * 31, "y" * 32, "z" * 33, "0123456789" * 7, "ß" * 40]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = {r["key"]: [r[f"p{i}"] for i in range(BLOOM_K)]
           for r in df.select("key", *bloom_position_cols("key", ""))
           .collect()}
    for k in keys:
        assert got[k] == bloom_positions(k, BLOOM_CAP_BITS), k


def test_written_bloom_equals_driver_bitmap(table):
    """The bitmap-aggregate build (riding the part write, and the
    recovery rebuild) is byte-identical to bloom_to_hex over the
    driver-side positions of the part's keys."""
    keys = list(range(0, 900, 3))
    _flush_keys(table, keys)
    p = table.manifest.parts[0]
    assert p.bloom_algo == BLOOM_ALGO
    want = bloom_to_hex(
        [q for k in keys for q in bloom_positions(f"k{k:04d}", p.bloom_bits)],
        p.bloom_bits)
    assert p.bloom_hex == want
    hex_before, bits_before = p.bloom_hex, p.bloom_bits
    table._attach_bloom(p)  # recovery path, exact distinct count
    assert (p.bloom_hex, p.bloom_bits) == (hex_before, bits_before)


def test_md5x3_parts_get_new_scheme_blooms_at_reopen(spark):
    """Parts whose manifest says bloom_algo="md5x3" (three md5s per key,
    the scheme before md5dh3) carry bits the check cannot read. Opening
    the table rebuilds those blooms once, so the parts prune right away —
    without waiting for a rewrite — and lookups stay correct before and
    after OPTIMIZE FINAL."""
    import json
    import os

    base = tempfile.mkdtemp(prefix="bloom_md5_")
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9, max_parts=100)
    try:
        with SparkMergeTree(spark, base, schema=SCHEMA, config=cfg) as t:
            _flush_keys(t, range(0, 100, 2))
            _flush_keys(t, range(1, 100, 2))
            mf = t.manifest.file_path
        with open(mf) as f:
            doc = json.load(f)
        for pd in doc["parts"]:
            pd["bloom_algo"] = "md5x3"  # bits now mean nothing
            pd["bloom_hex"] = "00" * (pd["bloom_bits"] // 8)
        with open(mf, "w") as f:
            json.dump(doc, f)
        with SparkMergeTree(spark, base, schema=SCHEMA, config=cfg) as t:
            assert all(p.bloom_algo == BLOOM_ALGO for p in t.manifest.parts)
            assert len(t.parts_for_key("k0050")) == 1  # odd-key part pruned
            assert len(t.parts_for_key("k0051")) == 1
            rows = t.query_key("k0051").collect()
            assert [(r["key"], r["value"]) for r in rows] == [("k0051",
                                                               "v51")]
        with open(mf) as f:  # the rebuilt blooms were persisted
            assert all(pd["bloom_algo"] == BLOOM_ALGO
                       for pd in json.load(f)["parts"])
        with SparkMergeTree(spark, base, schema=SCHEMA, config=cfg) as t:
            t.optimize(final=True)
            (p,) = t.manifest.parts
            assert p.bloom_algo == BLOOM_ALGO
            assert p.may_contain_key("k0051")
            assert len(t.parts_for_key("k0051")) == 1
            # absent in-range keys now prune the merged part
            assert sum(not p.may_contain_key(f"k{k:04d}x")
                       for k in range(100)) > 90
            assert t.query_key("k0050").count() == 1
            assert os.path.isdir(p.path)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_bloom_fold_is_consistent_across_sizes():
    """Positions collected at the cap modulus fold to any smaller
    power-of-two bitmap identically to hashing at that size directly."""
    for m in (1 << 10, 1 << 12, 1 << 14):
        for key in ("a", "k0042", "z" * 50):
            direct = bloom_to_hex(bloom_positions(key, m), m)
            folded = bloom_to_hex(bloom_positions(key, BLOOM_CAP_BITS), m)
            assert direct == folded, (key, m)


def test_bloom_disabled_config(spark):
    base = tempfile.mkdtemp(prefix="bloom_off_")
    cfg = MergeTreeConfig(memtable_flush_threshold=10**9,
                          enable_bloom_index=False)
    t = SparkMergeTree(spark, base, schema=SCHEMA, config=cfg)
    try:
        _flush_keys(t, range(10))
        assert t.manifest.parts[0].bloom_hex is None
        # no bloom → no pruning beyond min/max, still correct
        assert len(t.parts_for_key("k0005")) == 1
        assert t.query_key("k0005").count() == 1
    finally:
        t.close()
        shutil.rmtree(base, ignore_errors=True)


def test_sizing_clamps():
    assert bloom_size_for(1) == 1 << 10
    assert bloom_size_for(1000) == 1 << 14
    assert bloom_size_for(10**6) == BLOOM_CAP_BITS


def test_connector_bloom_check_matches_engine(table):
    """The mergetree connector carries its own copy of the bloom check
    (it may not import the engine); it must answer exactly like
    PartMeta.may_contain_key."""
    from clickhouse_mergetree_spark.sources.mergetree_source import (
        _bloom_may_contain,
    )

    _flush_keys(table, range(0, 300, 2))
    p = table.manifest.parts[0]
    doc = {"bloom_hex": p.bloom_hex, "bloom_bits": p.bloom_bits,
           "bloom_k": p.bloom_k, "bloom_algo": p.bloom_algo}
    probes = [f"k{k:04d}" for k in range(300)] + ["", "é漢字", "w" * 40]
    assert [_bloom_may_contain(doc, k) for k in probes] == \
        [p.may_contain_key(k) for k in probes]
    assert not all(_bloom_may_contain(doc, k) for k in probes)
