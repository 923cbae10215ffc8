"""Token-bloom skipping index suite (tokenbf_v1 + hasToken analog).

Pruning correctness (never a false negative), case/punctuation token
normalization, merge/mutation index refresh, buffered-row visibility,
and the legacy/scheme-mismatch no-claim rule.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import MergeTreeConfig, SparkMergeTree
from clickhouse_mergetree_spark.engine.manifest import BLOOM_ALGO
from clickhouse_mergetree_spark.engine.merge_tree import IndexNeeds

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("ts_us", T.LongType(), False),
    T.StructField("text", T.StringType(), True),
])


@pytest.fixture()
def table(spark, tmp_path):
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10,
                          token_bloom_cols=("text",),
                          key_col="doc_id", ts_col="ts_us")
    t = SparkMergeTree(spark, str(tmp_path / "t"), schema=SCHEMA, config=cfg)
    t.insert_rows([(i, i, f"alpha beta doc {i}") for i in range(40)])
    t.flush()
    t.insert_rows([(i, i, f"gamma delta doc {i}") for i in range(40, 80)])
    t.flush()
    t.insert_rows([(i, i, f"epsilon Needle-{i} zeta") for i in range(80, 90)])
    t.flush()
    yield t
    t.close()


def test_prunes_parts_without_token(table):
    assert table.part_count() == 3
    assert len(table.parts_for_token("text", "gamma")) == 1
    assert len(table.parts_for_token("text", "alpha")) == 1
    # token in every part
    assert len(table.parts_for_token("text", "doc")) == 2


def test_query_token_exact_rows(table):
    rows = table.query_token("text", "gamma").collect()
    assert len(rows) == 40 and all("gamma" in r["text"] for r in rows)


def test_case_and_punctuation_normalization(table):
    # data "Needle-85" tokenizes to {needle, 85}; query is case-folded
    assert table.query_token("text", "NeEdLe").count() == 10
    assert table.query_token("text", "85").count() == 1


def test_absent_token_zero_parts_and_rows(table):
    assert table.parts_for_token("text", "zzznothere") == []
    assert table.query_token("text", "zzznothere").count() == 0


def test_buffered_rows_visible_without_index(table):
    table.insert_rows([(200, 200, "fresh omega row")])
    assert table.query_token("text", "omega").count() == 1


def test_merge_rebuilds_token_index(table):
    table.config.max_parts = 1
    table.optimize()
    assert table.part_count() == 1
    assert table.query_token("text", "gamma").count() == 40
    assert table.parts_for_token("text", "zzznothere") == []


def test_mutation_refreshes_token_index(table):
    from pyspark.sql import functions as F

    table.delete_where(F.col("doc_id") >= 40)  # drops gamma + needle rows
    assert table.query_token("text", "gamma").count() == 0
    assert table.parts_for_token("text", "gamma") == []


def test_scheme_mismatch_yields_no_claim(table):
    table.wait_for_index_builds()  # blooms attach deferred (r14)
    p = table.manifest.parts[0]
    p.token_blooms["text"]["algo"] = "other"
    assert p.may_contain_token("text", "zzznothere") is True


def test_stale_scheme_token_bloom_rebuilt_at_reopen(spark, table):
    """A token bloom tagged with an older hash scheme is rebuilt when the
    table opens, so the part prunes again without waiting for a rewrite."""
    table.wait_for_index_builds()
    for p in table.manifest.parts:
        p.token_blooms["text"]["algo"] = "md5x3"
    table.manifest.save()
    table.close()
    t = SparkMergeTree(spark, table.base_path, schema=SCHEMA,
                       config=table.config)
    try:
        assert all(p.token_blooms["text"]["algo"] == BLOOM_ALGO
                   for p in t.manifest.parts)
        assert len(t.parts_for_token("text", "gamma")) == 1
        assert t.query_token("text", "gamma").count() == 40
    finally:
        t.close()


def test_unindexed_column_never_skips(table):
    p = table.manifest.parts[0]
    assert p.may_contain_token("nope", "anything") is True


def test_algo_constant_matches_key_bloom(table):
    table.wait_for_index_builds()  # blooms attach deferred (r14)
    assert table.manifest.parts[0].token_blooms["text"]["algo"] == BLOOM_ALGO


def test_deferred_builds_land_persist_and_match_sync(spark, tmp_path):
    """r14 deferred-attach contract: write-path blooms build in the
    background, every consumer drains first, the drained metadata is
    byte-identical to the synchronous build, and it persists."""
    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10,
                          token_bloom_cols=("text",),
                          key_col="doc_id", ts_col="ts_us")
    path = str(tmp_path / "defer")
    t = SparkMergeTree(spark, path, schema=SCHEMA, config=cfg)
    t.insert_rows([(i, i, f"alpha doc {i}") for i in range(10)])
    t.flush()
    t.insert_rows([(i, i, f"gamma doc {i}") for i in range(10, 20)])
    t.flush()
    # consumers drain implicitly — pruning engages with no explicit wait
    assert len(t.parts_for_token("text", "alpha")) == 1
    assert t.query_token("text", "gamma").count() == 10
    # the drained result is identical to the synchronous builder's
    t.wait_for_index_builds()
    deferred = {p.part_id: dict(p.token_blooms) for p in t.manifest.parts}
    for p in t.manifest.parts:
        t._attach_index(p, t._build_index(p, IndexNeeds(tokens=("text",))))
    assert {p.part_id: dict(p.token_blooms)
            for p in t.manifest.parts} == deferred
    # and it persisted: a reopen (fresh manifest load) carries the claims
    r = SparkMergeTree(spark, path, schema=SCHEMA, config=cfg)
    assert all("text" in (p.token_blooms or {}) for p in r.manifest.parts)
    assert len(r.parts_for_token("text", "alpha")) == 1
    t.close()
    r.close()


def test_close_records_a_failed_deferred_build(spark, tmp_path, caplog):
    """close() drains the deferred index builds; a build that failed is
    kept as last_error ({"error", "time"}) and logged, not dropped."""
    import logging
    import time

    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=10,
                          token_bloom_cols=("text",),
                          key_col="doc_id", ts_col="ts_us")
    t = SparkMergeTree(spark, str(tmp_path / "t"), schema=SCHEMA, config=cfg)

    def broken(path, col, values):
        raise RuntimeError("token build failed")

    t._value_bloom = broken
    t.insert_rows([(i, i, f"alpha doc {i}") for i in range(10)])
    t.flush()
    before = time.time()
    with caplog.at_level(logging.WARNING):
        t.close()
    assert t.last_error is not None
    assert isinstance(t.last_error["error"], RuntimeError)
    assert str(t.last_error["error"]) == "token build failed"
    assert before <= t.last_error["time"] <= time.time()
    assert "token build failed" in caplog.text


def test_a_failed_build_of_a_live_part_is_recorded_at_a_deletion(
        spark, tmp_path, caplog):
    """Deletion paths drain the deferred builds without raising; a failed
    build of a part that is still live is kept as last_error and logged
    there, not only at close()."""
    import logging

    cfg = MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=1,
                          token_bloom_cols=("text",),
                          key_col="doc_id", ts_col="ts_us")
    t = SparkMergeTree(spark, str(tmp_path / "t"), schema=SCHEMA, config=cfg)

    def rows(lo):
        return [(i, i, f"alpha doc {i}") for i in range(lo, lo + 10)]

    for lo in (0, 10):
        t.insert_rows(rows(lo))
        t.flush()
    t.wait_for_index_builds()

    def broken(path, col, values):
        raise RuntimeError("token build failed")

    t._value_bloom = broken
    # the third part outweighs the first two together, so the cheapest
    # run the merge selector offers is those two
    t.insert_rows([(i, i, f"alpha doc {i}") for i in range(20, 3020)])
    t.flush()
    last = t.manifest.parts[-1]
    assert last.disk_size > sum(p.disk_size for p in t.manifest.parts[:2])
    with caplog.at_level(logging.WARNING):
        t.merge_parts_sync()  # merges the first two parts, deletes them
    assert any(p is last for p in t.manifest.parts)
    assert "text" not in (last.token_blooms or {})
    assert t.last_error is not None
    assert str(t.last_error["error"]) == "token build failed"
    assert "token build failed" in caplog.text
    t.close()


def test_fanout_jobs_inherit_the_callers_job_group(table):
    """Part rewrites run on worker threads and token blooms build on the
    deferred pool; every job they start carries the caller's job group."""
    import uuid

    from pyspark.sql import functions as F

    sc = table.spark.sparkContext
    tracker = sc.statusTracker()
    tag = uuid.uuid4().hex[:8]

    def marker(name):
        sc.setJobGroup(name, name)
        table.spark.range(1).count()
        return tracker.getJobIdsForGroup(name)

    table.wait_for_index_builds()
    try:
        first = max(marker(f"before_{tag}"))
        sc.setJobGroup(f"op_{tag}", "update_where")
        res = table.update_where(F.col("doc_id") % 2 == 0,
                                 {"text": F.lit("rewritten doc")})
        table.wait_for_index_builds()
        last = min(marker(f"after_{tag}"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res["parts_rewritten"] >= 2
    window = set(range(first + 1, last))
    assert window
    assert window == set(tracker.getJobIdsForGroup(f"op_{tag}"))
