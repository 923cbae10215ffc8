"""ALTER TABLE MODIFY COLUMN (type change).

Pins: metadata-only commit (zero parts rewritten, part ids unchanged),
lazy cast at read (Spark CAST semantics), reopen replay with the
ORIGINAL schema, merge/optimize materialization of the physical type,
the rename and re-modify interactions, added-column modifies (default
fill at the new type), and structural/live-mask refusals.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import MergeTreeConfig, SparkMergeTree

SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), False),
    T.StructField("ts", T.LongType(), False),
    T.StructField("code", T.IntegerType(), True),
    T.StructField("score", T.DoubleType(), True),
])

CFG = dict(memtable_flush_threshold=10**9, max_parts=100,
           key_col="key", ts_col="ts")


@pytest.fixture()
def base():
    d = tempfile.mkdtemp(prefix="modcol_tbl_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def table(spark, base):
    t = SparkMergeTree(spark, base, schema=SCHEMA,
                       config=MergeTreeConfig(**CFG))
    yield t
    t.close()


def _flush(table, lo, hi):
    table.insert_rows([(f"k{ts:05d}", ts, ts, float(ts))
                       for ts in range(lo, hi)])
    table.flush()


def test_modify_is_metadata_only_and_casts_lazily(table):
    _flush(table, 0, 100)
    ids_before = [p.part_id for p in table.manifest.parts]
    table.modify_column("code", "bigint")
    assert [p.part_id for p in table.manifest.parts] == ids_before
    assert dict(table.query_all().dtypes)["code"] == "bigint"
    rows = {r["key"]: r["code"] for r in table.query_all().collect()}
    assert rows["k00042"] == 42
    # the part records its physical (pre-modify) type
    assert table.manifest.parts[0].cast_cols == {"code": "int"}


def test_modify_mixed_parts(table):
    _flush(table, 0, 10)                 # physical: int
    table.modify_column("code", "string")
    table.insert_rows([(f"k{ts:05d}", ts, f"c{ts}", float(ts))
                       for ts in range(10, 20)])
    table.flush()                        # physical: string
    rows = {r["key"]: r["code"] for r in table.query_all().collect()}
    assert rows["k00005"] == "5" and rows["k00015"] == "c15"


def test_modify_survives_reopen_with_original_schema(spark, base):
    t = SparkMergeTree(spark, base, schema=SCHEMA,
                       config=MergeTreeConfig(**CFG))
    _flush(t, 0, 20)
    t.modify_column("code", "double")
    t.close()
    t2 = SparkMergeTree(spark, base, schema=SCHEMA,
                        config=MergeTreeConfig(**CFG))
    assert dict(t2.query_all().dtypes)["code"] == "double"
    rows = {r["key"]: r["code"] for r in t2.query_all().collect()}
    assert rows["k00007"] == 7.0
    t2.close()


def test_optimize_materializes_new_physical_type(spark, table):
    _flush(table, 0, 20)
    table.modify_column("code", "bigint")
    table.optimize()                      # single part, pending cast
    merged = table.manifest.parts[0]
    assert merged.cast_cols is None       # physically re-encoded
    physical = spark.read.parquet(merged.path)
    assert dict(physical.dtypes)["code"] == "bigint"
    assert table.query_all().count() == 20


def test_re_modify_keeps_original_physical_type(table):
    _flush(table, 0, 10)
    table.modify_column("code", "bigint")
    table.modify_column("code", "string")  # bytes still int on disk
    assert table.manifest.parts[0].cast_cols == {"code": "int"}
    rows = {r["key"]: r["code"] for r in table.query_all().collect()}
    assert rows["k00003"] == "3"
    assert dict(table.query_all().dtypes)["code"] == "string"


def test_modify_then_rename_then_reopen(spark, base):
    t = SparkMergeTree(spark, base, schema=SCHEMA,
                       config=MergeTreeConfig(**CFG))
    _flush(t, 0, 10)
    t.modify_column("code", "bigint")
    t.rename_column("code", "status")
    rows = {r["key"]: r["status"] for r in t.query_all().collect()}
    assert rows["k00004"] == 4
    t.close()
    t2 = SparkMergeTree(spark, base, schema=SCHEMA,
                        config=MergeTreeConfig(**CFG))
    assert dict(t2.query_all().dtypes)["status"] == "bigint"
    rows = {r["key"]: r["status"] for r in t2.query_all().collect()}
    assert rows["k00004"] == 4
    t2.close()


def test_modify_added_column_fills_default_at_new_type(table):
    _flush(table, 0, 10)                  # pre-ADD part: no origin column
    table.add_column("origin", "int", default=7)
    table.insert_rows([(f"k{ts:05d}", ts, ts, float(ts), 9)
                       for ts in range(10, 20)])
    table.flush()                         # physical: int
    table.modify_column("origin", "string")
    rows = {r["key"]: r["origin"] for r in table.query_all().collect()}
    assert rows["k00002"] == "7"          # default fill, cast to string
    assert rows["k00015"] == "9"          # physical int bytes, cast
    assert dict(table.query_all().dtypes)["origin"] == "string"


def test_modify_noop_when_same_type(table):
    _flush(table, 0, 5)
    table.modify_column("code", "int")
    assert table.manifest.parts[0].cast_cols is None
    assert not table.manifest.table_meta.get("modified_columns")


def test_drop_of_modified_column_clears_cast_state(table):
    _flush(table, 0, 10)
    table.modify_column("code", "bigint")
    table.drop_column("code")
    assert table.manifest.parts[0].cast_cols is None
    assert not table.manifest.table_meta.get("modified_columns")
    pid = table.manifest.parts[0].part_id
    table.optimize()                      # no pending transform left...
    # ...except the stripped column list (physical shed) — either way the
    # table reads correctly at the narrowed schema
    assert table.query_all().count() == 10
    assert "code" not in table.query_all().columns
    del pid


def test_materialize_column_rewrites_only_lagging_parts(spark, table):
    _flush(table, 0, 10)                  # part 1: physical int
    table.modify_column("code", "bigint")
    table.insert_rows([(f"k{ts:05d}", ts, ts, float(ts))
                       for ts in range(10, 20)])
    table.flush()                         # part 2: already bigint
    current = {p.part_id for p in table.manifest.parts
               if not p.cast_cols}
    stats = table.materialize_column("code")
    assert stats == {"parts_rewritten": 1, "rows_rewritten": 10}
    assert current <= {p.part_id for p in table.manifest.parts}
    for p in table.manifest.parts:
        assert p.cast_cols is None
        assert dict(spark.read.parquet(p.path).dtypes)["code"] == "bigint"
    # idempotent: everything is current now
    assert table.materialize_column("code") == {
        "parts_rewritten": 0, "rows_rewritten": 0}


def test_materialize_column_fills_added_default(spark, table):
    _flush(table, 0, 10)                  # pre-ADD part
    table.add_column("origin", "string", default="backfill")
    stats = table.materialize_column("origin")
    assert stats == {"parts_rewritten": 1, "rows_rewritten": 10}
    [p] = table.manifest.parts
    physical = spark.read.parquet(p.path)
    assert "origin" in physical.columns
    assert physical.filter("origin <> 'backfill'").count() == 0
    with pytest.raises(ValueError, match="unknown"):
        table.materialize_column("nope")


def test_system_columns_tracks_alter_provenance(table):
    _flush(table, 0, 10)
    table.modify_column("code", "bigint")
    table.add_column("origin", "string", default="backfill")
    table.rename_column("score", "points")
    info = {r["name"]: r for r in table.system_columns().collect()}
    assert list(info) == ["key", "ts", "code", "points", "origin"]
    assert info["key"]["is_structural"] and info["key"]["origin"] == "original"
    assert info["code"]["origin"] == "original+modified"
    assert info["code"]["type"] == "bigint"
    assert info["code"]["parts_lagging"] == 1      # pending cast
    assert info["points"]["origin"] == "original+renamed"
    assert info["points"]["parts_lagging"] == 1    # pending rename
    assert info["origin"]["origin"] == "added"
    assert info["origin"]["default"] == "backfill"
    assert info["origin"]["parts_lagging"] == 1    # missing bytes
    table.optimize()                               # materializes everything
    info = {r["name"]: r for r in table.system_columns().collect()}
    assert all(r["parts_lagging"] == 0 for r in info.values())


def test_parts_lagging_counts_what_materialize_rewrites(table):
    _flush(table, 0, 10)
    table.clear_column("score")                    # expiry mark only
    info = {r["name"]: r for r in table.system_columns().collect()}
    assert info["score"]["parts_lagging"] == 1
    assert info["code"]["parts_lagging"] == 0
    assert table.materialize_column("score") == {
        "parts_rewritten": 1, "rows_rewritten": 10}
    info = {r["name"]: r for r in table.system_columns().collect()}
    assert info["score"]["parts_lagging"] == 0

    def agree():
        """The pending-transform parts are exactly the parts that lag
        some declared column, and system.columns counts those."""
        with table._lock:
            pending = {p.part_id for p in
                       table._parts_with_pending_transforms(
                           include_masks=False)}
            lagging = {f.name: {p.part_id for p in
                                table._lagging_parts(f.name)}
                       for f in table.schema.fields}
        assert pending == set().union(*lagging.values())
        info = {r["name"]: r["parts_lagging"]
                for r in table.system_columns().collect()}
        assert info == {c: len(ids) for c, ids in lagging.items()}
        return lagging

    _flush(table, 10, 20)
    table.add_column("note", "string", default="n/a")
    assert agree()["note"] == {p.part_id for p in table.manifest.parts}
    table.insert_rows([(f"k{ts:05d}", ts, ts, float(ts), "x")
                       for ts in range(20, 30)])
    table.flush()
    table.rename_column("note", "memo")
    assert len(agree()["memo"]) == 3
    table.modify_column("code", "bigint")
    assert len(agree()["code"]) == 3
    table.clear_column("score")
    assert len(agree()["score"]) == 3
    table.drop_column("memo")
    assert len(agree()["code"]) == 3
    table.optimize()
    assert not any(agree().values())


def test_modify_refusals(table):
    _flush(table, 0, 10)
    with pytest.raises(ValueError, match="structural"):
        table.modify_column("key", "bigint")
    with pytest.raises(ValueError, match="unknown"):
        table.modify_column("nope", "string")
    table.lightweight_delete("code = 3")
    with pytest.raises(ValueError, match="lightweight"):
        table.modify_column("code", "bigint")
