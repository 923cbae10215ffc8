"""Python Data Source connector for SparkMergeTree tables.

Makes an engine table a first-class Spark source:

    register_mergetree(spark)
    df = spark.read.format("mergetree").option("path", table_dir).load()

Re-expresses the reference's read-path machinery inside Spark's source
API (reference: src/merge_tree.cpp:37-63):

- R8 part min/max pruning → ``pushFilters`` collects key bounds and
  ``partitions()`` skips parts whose manifest [min_key, max_key] misses
  them — pruned parts are never listed, opened, or scheduled;
- R9 granule pruning → the pushed bounds become a pyarrow row-group /
  page filter inside ``read()`` (parts are written key-sorted, so
  row-group stats are tight);
- one InputPartition per parquet data file → scan parallelism = file
  count, exactly like the native parquet source.

All filters are also RETURNED from pushFilters, so Spark re-applies them
after the scan — pruning is a pure optimization and can never change
results.

The write path (``df.write.format("mergetree").mode("append"/"overwrite")``)
maps one Spark write job to one new part: tasks stream Arrow batches
into staged parquet files, and the commit step publishes them with a
single atomic manifest update (see MergeTreeWriter). Compaction and
threshold-flush ingest remain SparkMergeTree API concerns — the sink
appends parts; the engine's maintenance folds them.

Streaming, both directions: ``spark.readStream.format("mergetree")``
treats monotonically-increasing part ids as the offset log (each
micro-batch reads exactly the parts that appeared since — Delta-style),
and ``df.writeStream.format("mergetree")`` publishes one part per
micro-batch with a sidecar batch-id ledger for exactly-once replays.

SELF-CONTAINMENT CONTRACT: every method of a Python data source —
including the "driver-side" schema()/partitions() — executes in a
separate Python runner process that does NOT have this repo on its
path. ``register_mergetree`` therefore registers two modules for
cloudpickle pickle-by-value: this one and ``engine/manifest.py``, the
one reader and writer of ``manifest.json`` (``Manifest`` for load, id
allocation, ``swap`` and ``save``; ``PartMeta`` for the per-part
min/max and key-bloom checks). Everything else the two modules use
must come from pyspark, pyarrow or the standard library: cloudpickle
pickles any other module of this package by name, and the runner
cannot import it.
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING, Iterator

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from clickhouse_mergetree_spark.engine.manifest import Manifest, PartMeta

# Reference row model (src/row.h:10-12) — schema of an empty table.
_FALLBACK_SCHEMA = StructType([
    StructField("key", StringType(), False),
    StructField("value", StringType(), False),
    StructField("timestamp", LongType(), False),
])


def _check_no_lightweight_deletes(manifest: Manifest) -> None:
    """The connector reads part files physically and cannot evaluate the
    engine's lightweight-delete predicate masks (SQL strings applied by
    SparkMergeTree's read path). Serving deleted rows silently would be
    wrong, so refuse loudly until the masks are materialized."""
    live = {p.part_id for p in manifest.parts}
    # entries that only mask snapshot-retained tombstones don't affect the
    # live part set this connector reads
    blocking = [e for e in manifest.table_meta.get("lw_deletes", [])
                if live.intersection(e.get("parts", []))]
    if blocking:
        raise ValueError(
            f"table at {manifest.base_path} has {len(blocking)} "
            f"unmaterialized lightweight delete(s) masking live parts; run "
            f"SparkMergeTree.materialize_deletes() before reading it "
            f"through the mergetree connector")


def _part_files(part_dir: str) -> list[str]:
    return sorted(
        os.path.join(part_dir, f)
        for f in os.listdir(part_dir)
        if f.endswith(".parquet") and not f.startswith(".")
    )


def _prune_parts(parts: list[PartMeta], lower, upper) -> list[PartMeta]:
    """R8 manifest pruning, shared by both data planes: drop parts whose
    [min_key, max_key] misses the pushed bounds; for an exact point
    filter, also consult the per-part key bloom. Incomparable bound/key
    types keep the part — pruning is a pure optimization, correctness
    comes from the re-applied filter."""
    if lower is not None or upper is not None:
        kept = []
        for p in parts:
            try:
                if p.min_key is not None and (
                    (upper is not None and p.min_key > upper)
                    or (lower is not None and p.max_key < lower)
                ):
                    continue
            except TypeError:
                pass
            kept.append(p)
        parts = kept
    if lower is not None and lower == upper:
        parts = [p for p in parts if p.may_contain_key(lower)]
    return parts


def mergetree_batch_scan(spark, path: str, key_lower=None, key_upper=None):
    """Batch FAST PATH for reading an engine table: the same manifest
    part pruning as ``MergeTreeReader.partitions()`` (R8, bloom
    consulted on point bounds), but the surviving file list is handed to
    ``spark.read.parquet`` — the JVM native scanner, so the DATA plane
    gets vectorized parquet decode inside whole-stage codegen plus
    row-group pruning from whatever filters the caller applies (Catalyst
    pushes them into the scan; parts are written key-sorted, so the
    stats are tight — R9 for free).

    Rationale (PERF_NOTES, VERDICT r7/r8): the Python Data Source API
    moves Arrow batches through Python runner processes — ~5-10x a JVM
    parquet scan per byte, an API ceiling, not an implementation defect.
    The DataSource remains the streaming path (part-id offsets need
    Python-side manifest logic per micro-batch) and the generic
    ``spark.read.format("mergetree")`` connector; batch consumers that
    only need pruned-scan semantics should come through here. Callers
    must still apply their key filter — pruning only shrinks the file
    list, it never substitutes for the predicate.
    """
    manifest = Manifest.load(path)
    _check_no_lightweight_deletes(manifest)
    files = [f for p in _prune_parts(manifest.parts, key_lower, key_upper)
             for f in _part_files(p.path)]
    if not files:
        allf = [f for p in manifest.parts for f in _part_files(p.path)]
        if not allf:
            raise ValueError(f"no parquet data files under {path}")
        # everything pruned: empty relation with the table's schema
        return spark.read.parquet(allf[0]).limit(0)
    return spark.read.parquet(*files)


class MergeTreeFilePartition(InputPartition):
    """One parquet data file of one part."""

    def __init__(self, file_path: str):
        self.file_path = file_path


class MergeTreeReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mergetree source requires .option('path', ...)")
        self.key_col = options.get("keycol", "key")
        # inclusive key bounds collected from pushed filters; None = unbounded
        self.lower = None
        self.upper = None

    # ----------------------------------------------------------- planning

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Collect [lower, upper] key bounds for manifest pruning.

        Every filter is yielded back as unhandled, so Spark still applies
        all of them post-scan — the bounds only *skip* parts/row-groups.
        """
        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr == (self.key_col,):
                if isinstance(f, EqualTo):
                    self._narrow(f.value, f.value)
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    # strict > narrowed as ≥: pruning may keep one extra
                    # part; Spark's re-applied filter fixes the rows
                    self._narrow(f.value, None)
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    self._narrow(None, f.value)
                elif isinstance(f, In) and f.value:
                    self._narrow(min(f.value), max(f.value))
            yield f

    def _narrow(self, lo, hi) -> None:
        if lo is not None and (self.lower is None or lo > self.lower):
            self.lower = lo
        if hi is not None and (self.upper is None or hi < self.upper):
            self.upper = hi

    def partitions(self) -> list[MergeTreeFilePartition]:
        # Manifest prune (R8, bloom on point bounds — _prune_parts),
        # then one partition per data file.
        manifest = Manifest.load(self.path)
        _check_no_lightweight_deletes(manifest)
        return [
            MergeTreeFilePartition(f)
            for p in _prune_parts(manifest.parts, self.lower, self.upper)
            for f in _part_files(p.path)
        ]

    # --------------------------------------------------------------- scan

    def read(self, partition: MergeTreeFilePartition):
        # Runs in a Python worker: pyarrow reads the file and the pushed
        # key bounds skip row groups whose stats miss the range (R9 —
        # parts are written key-sorted so the stats are tight). Yields
        # Arrow batches — zero row-at-a-time Python.
        if partition is None:
            # partitions() pruned everything away; Spark still schedules
            # one task with no partition — an empty scan
            return
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        expr = None
        if self.lower is not None:
            expr = pads.field(self.key_col) >= self.lower
        if self.upper is not None:
            e = pads.field(self.key_col) <= self.upper
            expr = e if expr is None else expr & e
        table = pq.read_table(partition.file_path, filters=expr)
        yield from table.to_batches()


@dataclass
class _FileCommit(WriterCommitMessage):
    """Per-task result: one parquet file written into the staging dir.

    Carries its own ``staging`` path: the commit step may run from a
    different process than the tasks (fresh writer instance → different
    generated staging), so the message — not the writer — is the source
    of truth for where the staged file lives."""

    file_name: str
    staging: str
    rows: int
    n_bytes: int
    min_key: object
    max_key: object
    min_ts: int
    max_ts: int


class MergeTreeWriter(DataSourceArrowWriter):
    """``df.write.format("mergetree")`` — one Spark write job = ONE new part.

    Each task streams its Arrow batches into one parquet file under a
    staging directory (never visible to readers); ``commit`` — which runs
    only if every task succeeded — renames the staging dir to
    ``part_<id>`` and appends a single manifest entry whose min/max
    key/ts stats are folded from the per-task commit messages. Readers
    therefore see the whole insert atomically or not at all — the same
    commit discipline as the engine's flush (R16/R33). ``mode("append")``
    adds the part; ``mode("overwrite")`` truncates the table at the
    commit point.

    For tight row-group pruning later, pre-shape the frame exactly like
    the engine's flush does:
    ``df.repartitionByRange(key).sortWithinPartitions(key, ts)`` —
    unsorted writes stay correct, just prune worse.
    """

    def __init__(self, options, overwrite: bool):
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("mergetree sink requires .option('path', ...)")
        self.key_col = options.get("keycol", "key")
        self.ts_col = options.get("tscol", "timestamp")
        self.overwrite = overwrite
        self.staging = os.path.join(
            self.path, f".staging_{uuid.uuid4().hex[:12]}")

    # ------------------------------------------------------- executor side

    def write(self, iterator) -> _FileCommit:
        return _write_staged_file(
            self.staging, self.key_col, self.ts_col, iterator)

    # --------------------------------------------------------- commit side

    def commit(self, messages) -> None:
        _publish_part(self.path, self.staging, messages,
                      overwrite=self.overwrite)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


def _write_staged_file(staging: str, key_col: str, ts_col: str,
                       iterator) -> _FileCommit:
    """Task side of a part write: stream this task's Arrow batches into one
    uniquely-named parquet file under the staging dir and report its stats."""
    import uuid

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    batches = [b for b in iterator if b.num_rows > 0]
    if not batches:
        # the runtime rejects None return values — empty-task sentinel
        return _FileCommit(file_name=None, staging=staging, rows=0, n_bytes=0,
                           min_key=None, max_key=None, min_ts=0, max_ts=0)
    table = pa.Table.from_batches(batches)
    os.makedirs(staging, exist_ok=True)
    name = f"task-{uuid.uuid4().hex[:12]}.parquet"
    fp = os.path.join(staging, name)
    pq.write_table(table, fp)

    def _minmax(col):
        if col not in table.column_names:
            return None, None
        mm = pc.min_max(table[col])
        return mm["min"].as_py(), mm["max"].as_py()

    mn_k, mx_k = _minmax(key_col)
    mn_t, mx_t = _minmax(ts_col)
    return _FileCommit(
        file_name=name, staging=staging, rows=table.num_rows,
        n_bytes=os.path.getsize(fp),
        min_key=mn_k, max_key=mx_k,
        min_ts=mn_t if mn_t is not None else 0,
        max_ts=mx_t if mx_t is not None else 0,
    )


def _publish_part(path: str, staging: str, messages,
                  overwrite: bool = False, batch_id: int | None = None) -> None:
    """Commit side of a part write (driver/runner process, single-writer):
    move the staged task files into ``part_<id>/`` and commit ONE
    ``Manifest.swap`` — the new part in, and under ``overwrite`` every
    live part out — saved write-temp-then-replace, so readers see the
    whole insert or none of it (the engine's R16/R33 commit discipline).
    The swap is one manifest version, so time travel reads it back.

    ``batch_id`` makes streaming commits idempotent: a replayed micro-batch
    (restart between sink commit and checkpoint advance) finds its id in
    the sidecar ledger and publishes nothing twice.
    """
    import shutil

    ledger = os.path.join(path, ".stream_commits.json")
    done: list[int] = []
    if batch_id is not None and os.path.exists(ledger):
        try:
            with open(ledger) as f:
                done = json.load(f)["batch_ids"]
        except (json.JSONDecodeError, KeyError):
            done = []
        if batch_id in done:
            shutil.rmtree(staging, ignore_errors=True)
            return

    msgs = [m for m in messages if m is not None and m.rows > 0]
    manifest = Manifest.load(path)
    old = list(manifest.parts) if overwrite else []
    added = []
    if msgs:
        part_id = manifest.allocate_part_id()
        part_dir = os.path.join(path, f"part_{part_id}")
        os.makedirs(part_dir, exist_ok=True)
        for m in msgs:
            os.replace(os.path.join(m.staging, m.file_name),
                       os.path.join(part_dir, m.file_name))
        mks = [m.min_key for m in msgs if m.min_key is not None]
        xks = [m.max_key for m in msgs if m.max_key is not None]
        added.append(PartMeta(
            part_id=part_id, path=part_dir,
            min_key=min(mks) if mks else None,
            max_key=max(xks) if xks else None,
            min_ts=min(m.min_ts for m in msgs),
            max_ts=max(m.max_ts for m in msgs),
            row_count=sum(m.rows for m in msgs),
            disk_size=sum(m.n_bytes for m in msgs)))
    manifest.swap([p.part_id for p in old], added)
    manifest.save()
    if batch_id is not None:
        done.append(batch_id)
        tmp = ledger + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_ids": done[-200:]}, f)
        os.replace(tmp, ledger)
    shutil.rmtree(staging, ignore_errors=True)
    for m in messages or []:
        if m is not None and getattr(m, "staging", None):
            shutil.rmtree(m.staging, ignore_errors=True)
    # commit point passed — truncated parts are unreachable
    for p in old:
        shutil.rmtree(p.path, ignore_errors=True)


class MergeTreeStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("mergetree")`` — parts as the change log.

    Part ids are monotonically increasing at publish time (manifest
    ``next_part_id``), so the stream offset is simply the highest part id
    processed; each micro-batch reads exactly the parts that appeared
    since — the same idea as Delta's file-based streaming source. Works
    for append-only tables (flush, sink writes). Compaction REWRITES data
    into a new higher part id, which a running stream would re-emit:
    pause compaction under a live stream or dedup downstream (e.g.
    ``dropDuplicatesWithinWatermark`` on the engine's (key, ts)).
    """

    def __init__(self, schema: StructType, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mergetree source requires .option('path', ...)")

    def initialOffset(self) -> dict:
        return {"part_id": 0}

    def latestOffset(self) -> dict:
        ids = [p.part_id for p in Manifest.load(self.path).parts]
        return {"part_id": max(ids, default=0)}

    def partitions(self, start: dict, end: dict):
        manifest = Manifest.load(self.path)
        _check_no_lightweight_deletes(manifest)
        return [
            MergeTreeFilePartition(f)
            for p in manifest.parts
            if start["part_id"] < p.part_id <= end["part_id"]
            for f in _part_files(p.path)
        ]

    def read(self, partition: MergeTreeFilePartition):
        if partition is None:
            return
        import pyarrow.parquet as pq

        yield from pq.read_table(partition.file_path).to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; nothing to reclaim


class MergeTreeStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("mergetree")`` — one micro-batch = one part.

    Same staged-files-then-atomic-manifest-publish as the batch writer;
    the sidecar batch ledger makes a replayed micro-batch a no-op, so the
    sink is effectively exactly-once per part. This is the connector-level
    equivalent of the foreachBatch → insert_batch ingest path (SURVEY
    §7.1 M4) without needing engine code on the stream.
    """

    def __init__(self, options):
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("mergetree sink requires .option('path', ...)")
        self.key_col = options.get("keycol", "key")
        self.ts_col = options.get("tscol", "timestamp")
        # fresh per micro-batch: Spark pickles a new writer per batch plan
        self.staging = os.path.join(
            self.path, f".staging_{uuid.uuid4().hex[:12]}")

    def write(self, iterator) -> _FileCommit:
        return _write_staged_file(
            self.staging, self.key_col, self.ts_col, iterator)

    def commit(self, messages, batchId: int) -> None:
        _publish_part(self.path, self.staging, messages, batch_id=batchId)

    def abort(self, messages, batchId: int) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


class MergeTreeDataSource(DataSource):
    """``spark.read.format("mergetree").option("path", dir).load()``."""

    @classmethod
    def name(cls) -> str:
        return "mergetree"

    def schema(self) -> StructType:
        # Schema = first part file's parquet schema; an empty table falls
        # back to the reference row model.
        path = self.options.get("path")
        if not path:
            raise ValueError("mergetree source requires .option('path', ...)")
        for p in Manifest.load(path).parts:
            files = _part_files(p.path)
            if files:
                import pyarrow.parquet as pq
                from pyspark.sql.pandas.types import from_arrow_schema

                return from_arrow_schema(pq.read_schema(files[0]))
        return _FALLBACK_SCHEMA

    def reader(self, schema: StructType) -> MergeTreeReader:
        return MergeTreeReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> MergeTreeWriter:
        return MergeTreeWriter(self.options, overwrite)

    def streamReader(self, schema: StructType) -> MergeTreeStreamReader:
        return MergeTreeStreamReader(schema, self.options)

    def streamWriter(self, schema: StructType,
                     overwrite: bool) -> MergeTreeStreamWriter:
        return MergeTreeStreamWriter(self.options)


def register_mergetree(spark: "SparkSession") -> None:
    """Register the 'mergetree' format on this session (idempotent).

    Registers this module and the manifest module for cloudpickle
    pickle-by-value first: data source methods run in separate Python
    runner/worker processes, and by-reference pickling would require the
    repo on their PYTHONPATH.
    """
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(sys.modules[Manifest.__module__])
    # pushFilters() is rejected outright unless Python-source pushdown is
    # enabled; it's a runtime conf, so set it here for vanilla sessions.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(MergeTreeDataSource)


if TYPE_CHECKING:
    from pyspark.sql import SparkSession
