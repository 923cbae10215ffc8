"""ALTER TABLE ADD INDEX / MATERIALIZE INDEX (ClickHouse DDL analog).

ADD INDEX is a metadata-only commit: parts written before it carry no
index metadata, and "no metadata" means "no claim" — probes scan those
parts, so correctness never depends on the backfill. MATERIALIZE INDEX
then backfills live parts (one bounded scan each), is idempotent, and
the DDL survives reopen with the original index-less config. These
tests pin that split for every index kind (tokenbf / ngrambf / minmax /
set), the validation errors, and that parts written AFTER the ADD index
themselves at write time with no materialize step.
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
    T.StructField("ts_us", T.LongType(), False),
    T.StructField("tag", T.StringType(), True),
    T.StructField("score", T.DoubleType(), True),
    T.StructField("text", T.StringType(), True),
])


def _cfg() -> MergeTreeConfig:
    return MergeTreeConfig(memtable_flush_threshold=10**12, max_parts=100,
                           key_col="key", ts_col="ts_us")


def _row(k: int, tag: str, score: float, text: str):
    return (k, k * 10, tag, score, text)


@pytest.fixture()
def base():
    d = tempfile.mkdtemp(prefix="idx_alter_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _three_parts(spark, base) -> SparkMergeTree:
    """Three banded parts: 'needle zebra' text only in part 1, tag 'hot'
    only in part 1, score ranges disjoint per part."""
    t = SparkMergeTree(spark, base, schema=SCHEMA, config=_cfg())
    bands = [
        [(1, "hot", 1.0, "alpha needle zebra beta"),
         (2, "hot", 2.0, "gamma delta")],
        [(3, "cold", 10.0, "epsilon zeta"), (4, "cold", 11.0, "eta theta")],
        [(5, "warm", 20.0, "iota kappa"), (6, "warm", 21.0, "mu nu")],
    ]
    for band in bands:
        t.insert_rows([_row(*r) for r in band])
        t.flush()
    assert t.part_count() == 3
    return t


def test_add_index_is_metadata_only_then_materialize_prunes(spark, base):
    t = _three_parts(spark, base)
    t.add_index("text", "tokenbf")
    # metadata-only: no part carries the bloom, probe scans all 3
    assert all(not (p.token_blooms or {}) for p in t.manifest.parts)
    assert len(t.parts_for_token("text", "zebra")) == 3
    stats = t.materialize_index("text")
    assert stats == {"parts_indexed": 3, "parts_skipped": 0}
    assert len(t.parts_for_token("text", "zebra")) == 1
    rows = t.query_token("text", "zebra").collect()
    assert [r["key"] for r in rows] == [1]
    # idempotent
    assert t.materialize_index("text") == {"parts_indexed": 0,
                                           "parts_skipped": 3}


def test_recovered_part_indexes_only_the_columns_it_holds(spark, base):
    """A part adopted by manifest-less recovery has no column list and
    holds the original columns. After ADD COLUMN it lacks the added one:
    MATERIALIZE INDEX on it makes no claim for that part (reads serve the
    lazy default) instead of scanning bytes the part does not have."""
    t = SparkMergeTree(spark, base, schema=SCHEMA, config=_cfg())
    t.insert_rows([_row(k, "t", float(k), f"w{k}") for k in range(10)])
    t.flush()
    t.close()
    os.remove(os.path.join(base, "manifest.json"))
    r = SparkMergeTree(spark, base, schema=SCHEMA, config=_cfg())
    assert [p.columns for p in r.manifest.parts] == [None]
    r.add_column("note", "string", default="n/a")
    r.add_index("note", "tokenbf")
    assert r.materialize_index("note") == {"parts_indexed": 0,
                                           "parts_skipped": 1}
    assert not (r.manifest.parts[0].token_blooms or {})
    assert len(r.parts_for_token("note", "n")) == 1
    assert sorted(x["key"] for x in r.query_token("note", "n").collect()) \
        == list(range(10))
    r.close()


def test_materialize_index_skips_a_cleared_column(spark, base):
    """A CLEARed column serves its default until the part's next rewrite,
    so an index built later must not describe the stale bytes: the part
    makes no claim for it and token reads still find the default."""
    t = _three_parts(spark, base)
    t.add_column("note", "string", default="n/a")
    t.insert_rows([(k, k * 10, "t", 1.0, "x", "xray") for k in (7, 8)])
    t.flush()
    t.clear_column("note")
    t.add_index("note", "tokenbf")
    t.materialize_index("note")
    assert all("note" not in (p.token_blooms or {})
               for p in t.manifest.parts)
    assert sorted(x["key"] for x in t.query_token("note", "n").collect()) \
        == [1, 2, 3, 4, 5, 6, 7, 8]
    t.close()


def test_materialize_index_builds_only_the_named_column(spark, base):
    """MATERIALIZE INDEX on one column builds that column's blooms and
    nothing else: the token bloom the parts already hold on another
    column is kept as it is, not rebuilt."""
    t = _three_parts(spark, base)
    t.add_index("tag", "tokenbf")
    t.materialize_index("tag")
    tag_hex = [p.token_blooms["tag"]["hex"] for p in t.manifest.parts]
    t.add_index("text", "tokenbf")
    built = []
    value_bloom = t._value_bloom

    def recording(path, col, values):
        built.append(col)
        return value_bloom(path, col, values)

    t._value_bloom = recording
    assert t.materialize_index("text") == {"parts_indexed": 3,
                                           "parts_skipped": 0}
    assert built == ["text"] * 3
    assert [p.token_blooms["tag"]["hex"] for p in t.manifest.parts] \
        == tag_hex
    assert all("text" in p.token_blooms for p in t.manifest.parts)
    assert [r["key"] for r in t.query_token("text", "zebra").collect()] \
        == [1]
    t.close()


def test_minmax_and_set_backfill(spark, base):
    t = _three_parts(spark, base)
    t.add_index("score", "minmax")
    t.add_index("tag", "set", n=8)
    stats = t.materialize_index()
    assert stats["parts_indexed"] == 3
    # minmax: score range [10,11] lives in exactly one part
    assert len(t.parts_for_col_range("score", 10.0, 11.5)) == 1
    assert sorted(r["key"] for r in
                  t.query_col_range("score", 10.0, 11.5).collect()) == [3, 4]
    # set: tag equality prunes to one part
    assert len(t.parts_for_in("tag", ["hot"])) == 1
    assert sorted(r["key"] for r in
                  t.query_in("tag", ["hot"]).collect()) == [1, 2]


def test_new_parts_index_at_write_time(spark, base):
    t = _three_parts(spark, base)
    t.add_index("text", "tokenbf")
    t.insert_rows([_row(7, "new", 30.0, "omicron needle zebra")])
    t.flush()  # written AFTER the ADD → indexes itself
    t.wait_for_index_builds()  # write-path builds attach deferred (r14)
    new_part = t.manifest.parts[-1]
    assert "text" in (new_part.token_blooms or {})
    # the 3 pre-ALTER parts make no claim (scan) + the new part matches
    assert len(t.parts_for_token("text", "zebra")) == 4
    t.materialize_index("text")
    assert len(t.parts_for_token("text", "zebra")) == 2


def test_alters_after_a_write_reach_the_next_part(spark, base):
    """The part write keeps its table-invariant Columns across writes;
    a CHECK constraint and minmax/set indexes added after the first
    write still apply to the very next part."""
    t = _three_parts(spark, base)
    t.add_constraint("pos_score", "score > 0")
    t.add_index("score", "minmax")
    t.add_index("tag", "set", n=8)
    t.insert_rows([_row(7, "bad", -1.0, "negative")])
    with pytest.raises(ValueError, match="pos_score"):
        t.flush()
    assert t.part_count() == 3 and t.total_rows() == 6
    t.insert_rows([_row(8, "new", 40.0, "lambda"),
                   _row(9, "new", 42.0, "pi")])
    t.flush()
    new_part = t.manifest.parts[-1]
    assert new_part.col_stats["score"] == [40.0, 42.0]
    assert new_part.col_sets["tag"] == ["new"]
    # the three pre-ALTER parts make no claim; the new part matches
    assert len(t.parts_for_col_range("score", 39.0, 50.0)) == 4
    assert sorted(r["key"] for r in
                  t.query_col_range("score", 39.0, 50.0).collect()) == [8, 9]
    t.close()


def test_ddl_survives_reopen_and_merge(spark, base):
    t = _three_parts(spark, base)
    t.add_index("text", "ngrambf")
    t.materialize_index()
    assert len(t.parts_for_like("text", "le zeb")) == 1
    # reopen with the ORIGINAL config: index DDL replays from the manifest
    r = SparkMergeTree(spark, base, schema=SCHEMA, config=_cfg())
    assert r.config.ngram_bloom_cols == ("text",)
    assert len(r.parts_for_like("text", "le zeb")) == 1
    # a merge rewrite refreshes the index on the merged part for free
    r.optimize(final=True)
    r.wait_for_index_builds()  # write-path builds attach deferred (r14)
    assert all("text" in (p.ngram_blooms or {}) for p in r.manifest.parts)
    rows = r.query_like("text", "le zeb").collect()
    assert [x["key"] for x in rows] == [1]


def test_validation_errors(spark, base):
    t = _three_parts(spark, base)
    with pytest.raises(ValueError, match="unknown column"):
        t.add_index("nope", "tokenbf")
    with pytest.raises(ValueError, match="unknown index kind"):
        t.add_index("text", "btree")
    t.add_index("text", "tokenbf")
    with pytest.raises(ValueError, match="already exists"):
        t.add_index("text", "tokenbf")
    # same column, different kind is fine
    t.add_index("text", "ngrambf")


def test_set_overflow_stores_no_claim(spark, base):
    t = _three_parts(spark, base)
    t.add_index("tag", "set", n=1)  # every part has 2 distinct? no: 1 each
    t.materialize_index("tag")
    # each part holds exactly one distinct tag → fits n=1, prunes
    assert len(t.parts_for_in("tag", ["warm"])) == 1
    # a column with per-part cardinality above n stores None → no claim
    t2_base = tempfile.mkdtemp(prefix="idx_alter2_")
    try:
        t2 = SparkMergeTree(spark, t2_base, schema=SCHEMA, config=_cfg())
        t2.insert_rows([_row(1, "a", 1.0, "x"), _row(2, "b", 2.0, "y")])
        t2.flush()
        t2.add_index("tag", "set", n=1)
        t2.materialize_index("tag")
        assert t2.manifest.parts[0].col_sets["tag"] is None
        assert len(t2.parts_for_in("tag", ["zzz"])) == 1  # scans, no claim
        t2.close()
    finally:
        shutil.rmtree(t2_base, ignore_errors=True)


def test_drop_index_unregisters_and_frees_the_column(spark, base):
    t = _three_parts(spark, base)
    t.add_index("text", "tokenbf")
    t.materialize_index("text")
    assert len(t.parts_for_token("text", "zebra")) == 1
    t.drop_index("text", "tokenbf")
    # stale per-part claims remain TRUE, so old parts still prune
    assert len(t.parts_for_token("text", "zebra")) == 1
    # new parts stop building the bloom
    t.insert_rows([_row(9, "x", 50.0, "omega")])
    t.flush()
    assert "text" not in (t.manifest.parts[-1].token_blooms or {})
    # the column is no longer structural: droppable again
    t.drop_column("text")
    with pytest.raises(KeyError):
        t.drop_index("text", "tokenbf")
    # DDL removal survives reopen
    r = SparkMergeTree(spark, base, schema=SCHEMA, config=_cfg())
    assert r.config.token_bloom_cols == ()


def test_alters_on_one_table_leave_a_config_sharing_table_alone(spark, base):
    """Each table keeps its own copy of the config it was built from, so
    an ADD INDEX or MODIFY SETTING on one table never reaches another
    table built from the same config object."""
    cfg = _cfg()
    a = SparkMergeTree(spark, os.path.join(base, "a"), schema=SCHEMA,
                       config=cfg)
    b = SparkMergeTree(spark, os.path.join(base, "b"), schema=SCHEMA,
                       config=cfg)
    structural = b._structural_cols()
    a.add_index("text", "tokenbf")
    a.modify_setting("max_parts", 3)
    assert a.config.token_bloom_cols == ("text",)
    assert a.config.max_parts == 3
    assert cfg == _cfg()
    assert b.config == _cfg()
    assert b._structural_cols() == structural
    b.insert_rows([_row(1, "hot", 1.0, "alpha beta")])
    b.flush()
    b.wait_for_index_builds()
    assert not b.manifest.parts[0].token_blooms
    b.drop_column("text")  # not structural on b
    a.close()
    b.close()


def test_add_index_refuses_an_index_the_config_declares(spark, base):
    """A declared index is the table's already: ADD INDEX of the same
    (column, kind) raises and writes no record, so a later DROP INDEX
    cannot unregister an index that a reopen would declare again."""
    cfg = _cfg()
    cfg.minmax_cols = ("score",)
    cfg.set_index_cols = (("tag", 8),)
    t = SparkMergeTree(spark, base, schema=SCHEMA, config=cfg)
    with pytest.raises(ValueError, match="already exists"):
        t.add_index("score", "minmax")
    with pytest.raises(ValueError, match="already exists"):
        t.add_index("tag", "set", n=4)
    assert "indexes" not in t.manifest.table_meta
    with pytest.raises(KeyError):
        t.drop_index("score", "minmax")
    assert t.config.minmax_cols == ("score",)
    t.add_index("score", "set")  # same column, another kind is fine
    assert t.config.set_index_cols == (("tag", 8), ("score", 100))
    t.close()
