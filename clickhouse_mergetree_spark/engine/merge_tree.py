"""SparkMergeTree — insert / flush / query / compact / recover.

The reference's MergeTree (src/merge_tree.cpp) re-expressed Spark-first:

| reference                                  | here                                  |
|--------------------------------------------|---------------------------------------|
| skip-list memtable (src/memtable.cpp)      | driver-side row/DataFrame buffer —    |
|                                            | ordering imposed once at flush        |
| flush → sorted granule part (src/part.cpp:39-65) | repartitionByRange(key) +       |
|                                            | sortWithinPartitions(key, ts) parquet |
| sparse index / granule stats (src/sparse_index.cpp) | parquet row-group min/max    |
|                                            | stats (written sorted ⇒ tight ranges) |
| part min/max pruning (src/part.cpp:201-203)| manifest prune before spark.read      |
| query: union + sort + (key,ts) dedup       | unionByName + dropDuplicates +        |
| (src/merge_tree.cpp:37-63)                 | orderBy — one lazy DataFrame          |
| k-way heap merge (src/merger.cpp:7-59)     | read-dedup-sort-write compaction job  |
| background thread (src/merge_tree.cpp:207-226) | optional driver-side timer thread |

User-visible contract reproduced exactly (SURVEY §1.5): append-only version
semantics — re-inserting a key adds a version; results sorted (key ASC,
ts ASC) with exact (key, ts) duplicates removed. When two rows share
(key, ts) but differ in value, which survives is merge-order-dependent in
the reference and partition-order-dependent here — equally unspecified.

Scale notes: parts are written key-sorted so range predicates prune at
file AND row-group level; the query path is a single lazy plan (scan ∪
buffer → hash-agg dedup → sort) whose only shuffle is the dedup/sort key —
none at all when manifest row counts prove the input is small
(ONE_TASK_MAX_ROWS);
compaction reads only the selected parts. Nothing here collects data to
the driver except explicit stats.

Unlike the reference, old parts are DELETED after a merge commits —
the reference leaks them on disk (verified: data/test_merge/ still holds
all 14 pre-merge part dirs; delete_from_disk has no call site in the merge
path).
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import threading
import time
import warnings
from dataclasses import dataclass, field
from math import ceil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine.manifest import (
    BLOOM_ALGO,
    BLOOM_CAP_BITS,
    BLOOM_K,
    Manifest,
    PartMeta,
    bloom_fold,
    bloom_size_for,
)
from clickhouse_mergetree_spark.engine.merger import select_merge_candidates

_log = logging.getLogger(__name__)

# Reference row model (src/row.h:10-12), timestamps as signed long (SURVEY §1.2).
DEFAULT_SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), False),
    T.StructField("value", T.StringType(), False),
    T.StructField("timestamp", T.LongType(), False),
])

# Largest inputs (rows) the one-task gate (SparkMergeTree._single_task)
# runs as one task, measured on a 4-core host under local[4] (PERF_NOTES,
# "The one-task gate"). Reads beat the parallel plan up to ~130k rows and
# lost from ~160k on (a full-table count took 1.55x as long at 200k);
# merges were even at every size up to 400k. A match-count probe is a bare
# filtered scan with no dedup or sort to save, so one task lost already at
# 100k rows (1.28x) and won at 50k.
ONE_TASK_MAX_ROWS = 1 << 17
ONE_TASK_MAX_PROBE_ROWS = 1 << 16

# Spark's bitmap_construct_agg builds fixed 32 Kib bitmaps; a bloom at the
# BLOOM_CAP_BITS modulus spans this many of them per hash function.
_BITMAP_SHIFT = 15
_BITMAP_BITS = 1 << _BITMAP_SHIFT
_BLOOM_CHUNKS = BLOOM_CAP_BITS // _BITMAP_BITS


def _bloom_position_sql(col: str) -> list[str]:
    """SQL for the BLOOM_K bit positions of column ``col`` at the
    BLOOM_CAP_BITS modulus: ONE md5 of its string cast, its first two
    32-bit words used for double hashing — the exact positions the
    driver-side check recomputes (manifest.bloom_positions). SQL text,
    not Column calls: each Column call is a py4j round trip, and these
    expressions are built on every part write."""
    h = f"md5(CAST(`{col}` AS STRING))"
    h1, h2 = (f"CAST(conv(substring({h}, {o}, 8), 16, 10) AS BIGINT)"
              for o in (1, 9))
    return [f"({h1} + {h2} * {i}) & {BLOOM_CAP_BITS - 1}"
            for i in range(BLOOM_K)]


def bloom_position_cols(col: str, prefix: str) -> list:
    """The BLOOM_K bloom positions of column ``col`` as Columns named
    ``{prefix}p{i}``. Selected once ahead of bloom_bitmap_aggs, so the
    md5 runs once per row (the aggregates are interpreted and would each
    re-evaluate an inline expression)."""
    return [F.expr(f"{p} AS `{prefix}p{i}`")
            for i, p in enumerate(_bloom_position_sql(col))]


def bloom_bitmap_aggs(prefix: str) -> list:
    """Aggregates that fold the ``{prefix}p{i}`` position columns
    (bloom_position_cols) into fixed-size bitmaps (one per hash function
    and 32 Kib chunk) — a few KiB of buffer per task however many rows
    it sees, so they ride an ``observe`` as well as a plain ``agg``.
    bloom_hex_from_row ORs and folds the result to the part's bitmap
    size."""
    return [
        F.expr(f"bitmap_construct_agg(CASE WHEN "
               f"shiftright(`{prefix}p{i}`, {_BITMAP_SHIFT}) = {c} "
               f"THEN `{prefix}p{i}` & {_BITMAP_BITS - 1} END) "
               f"AS `{prefix}{i}_{c}`")
        for i in range(BLOOM_K)
        for c in range(_BLOOM_CHUNKS)
    ]


def bloom_hex_from_row(row, prefix: str, n_bits: int) -> str:
    """The ``n_bits`` hex bitmap from bloom_bitmap_aggs' results in
    ``row`` — byte-identical to bloom_to_hex over the same positions."""
    cap = b""
    for c in range(_BLOOM_CHUNKS):
        acc = 0
        for i in range(BLOOM_K):
            acc |= int.from_bytes(row[f"{prefix}{i}_{c}"] or b"", "little")
        cap += acc.to_bytes(_BITMAP_BITS // 8, "little")
    return bloom_fold(cap, n_bits)


@dataclass(frozen=True)
class ProjectionSpec:
    """One table projection (ClickHouse ``PROJECTION ... (SELECT ...
    GROUP BY ...)`` analog — extension): a pre-aggregated copy of every
    part's rows, written WITH the part and dropped/rebuilt with it.

    ``aggs`` maps output column → (fn, source_col) with fn in
    {sum, count, min, max} — the re-aggregable functions, so per-part
    partials combine exactly (sum/count by SUM, min/max by MIN/MAX).
    ``count``'s source_col is ignored. Like ClickHouse, projections
    aggregate the part's PHYSICAL rows: on tables relying on read-time
    (key, ts) collapse they assume insert-unique data (ClickHouse
    equally refuses projections under FINAL).

    With ``order_by`` set (and ``group_by``/``aggs`` empty) the spec is
    instead a SORT projection (ClickHouse ``PROJECTION p (SELECT *
    ORDER BY col)``): each part carries a full copy of its rows
    re-sorted by the secondary key, so parquet row-group stats prune
    INSIDE the part for range/point reads on that key — the secondary-
    index read path the primary sort order can't serve. Sort
    projections store raw physical rows, so (unlike agg partials) they
    compose with every table mode, lightweight-delete fallback, and row
    policies.
    """

    name: str
    group_by: tuple[str, ...]
    aggs: dict[str, tuple[str, str]] = field(default_factory=dict)
    order_by: tuple[str, ...] = ()


@dataclass
class MergeTreeConfig:
    """Reference MergeTreeConfig defaults (src/merge_tree.h:17-20)."""

    memtable_flush_threshold: int = 1000
    max_parts: int = 10
    merge_interval_seconds: float = 30.0
    enable_background_merge: bool = False
    # per-part key bloom filter (data-skipping index for point lookups on
    # keys inside a part's [min,max] span but absent from it); costs one
    # key-column aggregate per part write
    enable_bloom_index: bool = True
    # snapshot time travel: how many recent manifest versions stay readable
    # via query_at_version. 0 (default) = parts are physically deleted at
    # merge/TTL commit, exactly the pre-snapshot behavior; N > 0 = removed
    # parts become tombstones and vacuum reclaims them once they fall out
    # of the newest N versions
    snapshot_retention: int = 0
    # granule analog: rows per parquet file within a part; row-group stats
    # inside each file replace the sparse index (reference src/granule.h:10)
    rows_per_file: int = 512 * 1024
    # parquet row-group target (uncompressed buffer bytes) for part
    # writes — the WITHIN-file granule: files are key-sorted, so smaller
    # row groups give the scanner tight min/max strides to skip, like
    # ClickHouse's index_granularity marks. The parquet default (128 MB)
    # makes a whole 512k-row file ONE row group, so a selective read
    # decodes the entire file; 4 MB ≈ tens of k rows per group (r9
    # measured a 1.4x narrow-range-scan win at 2M rows/part, growing
    # with part size). None = leave the parquet default.
    part_block_bytes: int | None = 4 * 1024 * 1024
    key_col: str = "key"
    ts_col: str = "timestamp"
    # Table-engine semantics for rows sharing the (key, ts) sorting key
    # (ClickHouse table-engine family analog — extension, the reference
    # implements only the dedup behavior, src/merge_tree.cpp:57-60):
    #   "dedup"   — keep one arbitrary row (ReplacingMergeTree-ish; the
    #               reference's behavior)
    #   "summing" — SUM the numeric measure columns and keep the min of
    #               the rest (SummingMergeTree). Merges collapse groups
    #               physically; reads still finalize with the same
    #               aggregate because distinct un-merged parts may hold
    #               partial sums — exactly ClickHouse's "use GROUP BY on
    #               read" contract.
    #   "collapsing" — row-level deletes via a ``sign_col`` of +1
    #               (insert) / -1 (cancel): rows sharing (key, ts) cancel
    #               pairwise (CollapsingMergeTree). Physical collapse
    #               stores the NET sign — not a clamped ±1 — so
    #               cancellation stays associative across any merge
    #               schedule; reads emit only groups with net > 0.
    #   "versioned_collapsing" — collapsing with ORDER-INDEPENDENT
    #               cancellation (VersionedCollapsingMergeTree): each row
    #               carries (sign, version) and a -1 row cancels the +1
    #               row with the SAME version, so out-of-order inserts
    #               collapse correctly. Physical collapse groups by
    #               (key, ts, version) keeping the net sign; reads emit
    #               every surviving (net > 0) version of the state.
    #   "replacing" — ClickHouse ReplacingMergeTree(ver[, is_deleted]):
    #               rows sharing (key, ts) keep the one with the HIGHEST
    #               ``version_col`` (lexicographic (version, rest) max —
    #               deterministic on version ties, associative across any
    #               merge schedule, unlike "dedup"'s arbitrary-row keep).
    #               With ``deleted_col`` set, a surviving row whose flag
    #               is nonzero is a tombstone: kept physically (so a later
    #               lower-version insert cannot resurrect), invisible to
    #               reads — the is_deleted row-delete contract.
    #   "aggregating" — per-column aggregate STATES (AggregatingMergeTree):
    #               ``agg_cols`` maps column → fn in {sum, min, max} (count
    #               is a summed constant-1 column, the same idiom as
    #               summing mode); rows sharing (key, ts) combine by each
    #               column's own function. Associative by construction, so
    #               any merge schedule and the read-time finalization give
    #               identical states.
    mode: str = "dedup"
    # summing mode: which columns to sum. None = every numeric non-key,
    # non-ts column in the schema.
    sum_cols: tuple[str, ...] | None = None
    # aggregating mode: column → "sum" | "min" | "max". Unlisted non-key
    # columns combine with min (the deterministic "keep any" choice).
    agg_cols: dict[str, str] | None = None
    # collapsing modes: the +1/-1 sign column.
    sign_col: str = "sign"
    # versioned_collapsing mode: the version column a -1 row must match
    # to cancel its +1 counterpart. Also replacing mode's ``ver`` column.
    version_col: str = "version"
    # replacing mode: optional is_deleted flag column — the max-version
    # row is a read-invisible tombstone when this column is nonzero.
    deleted_col: str | None = None
    # minmax skipping indexes (ClickHouse `INDEX ... TYPE minmax` analog —
    # extension): per-part min/max kept in the manifest for these NON-KEY
    # columns, so range predicates on them can prune whole parts without
    # opening a file — exactly what min_key/max_key/min_ts/max_ts already
    # do for the primary key, generalized. Costs two aggregates per column
    # on the part-write job (rides the same observe, no extra scan).
    minmax_cols: tuple[str, ...] = ()
    # Projections (ClickHouse PROJECTION analog — extension): specs whose
    # pre-aggregated partials are written alongside every part (riding the
    # part's write/merge/mutate lifecycle) and combined at read time —
    # query_grouped routes covered GROUP BY queries to the smallest
    # covering projection instead of the raw rows.
    projections: tuple[ProjectionSpec, ...] = ()
    # Token bloom skipping indexes (ClickHouse ``tokenbf_v1`` analog —
    # extension): per-part bloom over the DISTINCT lowercased word tokens
    # of these STRING columns, so token-containment queries
    # (query_token) prune whole parts. Costs one single-column aggregate
    # per part write (tokens must be exploded and deduplicated, which an
    # observe on the write job cannot express).
    token_bloom_cols: tuple[str, ...] = ()
    # N-gram bloom skipping indexes (ClickHouse ``ngrambf_v1`` analog —
    # extension): per-part bloom over the DISTINCT lowercased character
    # n-grams of these STRING columns, so substring-containment queries
    # (query_like — LIKE '%needle%' / position(col, needle) > 0) prune
    # whole parts: a matching row would have to contain every n-gram of
    # the needle, so one provably-absent gram skips the part. Needles
    # shorter than ngram_n can't use the index (they scan). Same
    # one-aggregate-per-part-write cost shape as token_bloom_cols.
    ngram_bloom_cols: tuple[str, ...] = ()
    ngram_n: int = 3
    # set(N) skipping indexes (ClickHouse ``INDEX ... TYPE set(N)`` analog
    # — extension): (col, N) pairs. Each part stores the EXACT distinct
    # value set of the column — unless it exceeds N values, in which case
    # the part makes no claim (exactly ClickHouse's overflow contract).
    # Equality/IN predicates (query_in) prune parts whose stored set
    # provably lacks every probed value. The right N is small: the index
    # targets low-cardinality columns (status codes, event types,
    # categories) where a handful of values per part prunes most of the
    # table. Costs one collect_set riding the part-write job's observe.
    set_index_cols: tuple[tuple[str, int], ...] = ()
    # SAMPLE BY (ClickHouse ``SAMPLE BY intHash32(user_id)`` analog —
    # extension): the sampling key column. Must be the sorting key
    # (key_col) — the restriction that makes sampling commute with the
    # engine's (key, ts) dedup/collapse: every row of a dedup group
    # shares the key, so the whole group passes or fails the sample
    # together and SAMPLE-then-FINAL ≡ FINAL-then-SAMPLE. Reads sample
    # deterministically by VALUE (md5-bucket of the key, 256 buckets):
    # the same key lands in the same bucket on every run, engine, and
    # cluster size, and a larger fraction is a strict superset of a
    # smaller one (nested samples, ClickHouse's contract). None = no
    # sampling key declared (query_sample refuses).
    sample_col: str | None = None
    # Part compression codec (ClickHouse ``CODEC(ZSTD)`` / column codec
    # analog — extension): the parquet compression codec for part writes
    # ("zstd", "snappy", "gzip", "lz4", "uncompressed", ...). None =
    # Spark's session default. Applies to NEW parts only; existing parts
    # re-encode at their next rewrite (merge/mutation/TTL) — the same
    # lazy migration contract as ALTER.
    part_compression: str | None = None
    # parts_to_throw_insert (ClickHouse analog — extension): refuse
    # inserts once any partition holds this many live parts ("Too many
    # parts" back-pressure — ingestion must not outpace compaction).
    # 0 = disabled (the reference has no guard).
    max_parts_to_throw: int = 0
    # PARTITION BY column (ClickHouse MergeTree analog — extension; users
    # partition by a precomputed bucket column, e.g. a month or a category).
    # Every part holds rows of exactly one partition value: flushes split
    # the buffer per value, merges never cross partition boundaries, and
    # DROP PARTITION / partition-scoped queries are manifest-only
    # operations. None = unpartitioned (the reference's behavior).
    partition_col: str | None = None
    # PARTITION BY <expression> (ClickHouse's usual form, e.g.
    # toYYYYMM(ts)): a Spark SQL expression string evaluated at flush to
    # split the buffer into one part per value; partition ops address the
    # computed values. Mutually exclusive with partition_col.
    partition_expr: str | None = None


class SparkMergeTree:
    """One MergeTree table rooted at ``base_path``."""

    def __init__(self, spark: SparkSession, base_path: str,
                 schema: T.StructType | None = None,
                 config: MergeTreeConfig | None = None):
        self.spark = spark
        self.base_path = base_path
        self.schema = schema or DEFAULT_SCHEMA
        self.config = config or MergeTreeConfig()
        if (self.config.partition_col is not None
                and self.config.partition_expr is not None):
            raise ValueError(
                "give partition_col OR partition_expr, not both")
        if (any(s.aggs for s in self.config.projections)
                and self.config.mode != "dedup"):
            # summing/collapsing/aggregating reads collapse the row
            # multiset, so physical-row projection partials could never
            # agree with table reads — refuse up front, the same reason
            # ClickHouse refuses projections under FINAL (ADVICE r4).
            # SORT projections are exempt: they store raw rows, which the
            # read path collapses exactly like primary rows.
            raise ValueError(
                f"aggregate projections require mode='dedup', not "
                f"{self.config.mode!r}: this mode collapses rows at read "
                "time, so pre-aggregated physical partials would diverge "
                "from table reads")
        for s in self.config.projections:
            if s.order_by and (s.group_by or s.aggs):
                raise ValueError(
                    f"projection {s.name!r}: order_by (sort projection) "
                    "and group_by/aggs (aggregate projection) are "
                    "mutually exclusive")
        self._buffer_rows: list[tuple] = []
        self._buffer_dfs: list[tuple[DataFrame, int]] = []  # (df, row_count)
        self._buffer_count = 0
        self._lock = threading.RLock()
        # Serializes whole merge rounds. Without it, a user-thread optimize()
        # racing the background thread could select the SAME candidate parts
        # (selection and commit are separate _lock critical sections, with
        # the Spark job between them) and append the merged rows twice.
        # The reference holds parts_mutex_ across its entire merge
        # (src/merge_tree.cpp:245-288) — this is the same serialization with
        # reads and flushes still concurrent.
        self._merge_lock = threading.Lock()
        # Serializes _resolve_deferred callers (duplicate-count race,
        # ADVICE r13). Never held while holding _lock.
        self._resolve_lock = threading.Lock()
        # Deferred skip-index builds (token/ngram blooms): part writes
        # submit the read-back index job here instead of running it
        # synchronously; consumers drain first (guide §2.6 — overlap the
        # index job with the caller's next action). _index_lock guards
        # pool + pending list only (never held across a wait);
        # _index_drain_lock serializes whole drain passes so a
        # concurrent drainer returns only AFTER results are attached —
        # and is never held while taking self._lock (no AB-BA with the
        # flush path, which drains while holding self._lock).
        self._index_lock = threading.Lock()
        self._index_drain_lock = threading.Lock()
        self._index_pool = None  # lazy ThreadPoolExecutor(max_workers=2)
        self._pending_index: list[tuple[PartMeta, object]] = []
        self._closed = False
        # system.query_log analog: per-session plan-time read ledger
        # (kind + parts pruned/scanned). In-memory by design — ClickHouse's
        # query_log is itself a best-effort side table, not table state.
        self._query_log: list[dict] = []
        self._views: list = []  # attached MaterializedViews (see matview.py)
        os.makedirs(base_path, exist_ok=True)
        self.manifest = Manifest.load(base_path)
        # Re-apply any persisted ALTER ADD/DROP/RENAME COLUMN evolution:
        # callers reopen with the table's ORIGINAL schema; the manifest
        # carries the logs. Drops, then adds, then renames — sound because
        # the ALTER methods keep the lists consistent: added records carry
        # their POST-rename name (so a renamed added column materializes
        # directly under its final name and its rename entry no-ops, the
        # rename source never having existed at replay), dropped_columns
        # lists every currently-dropped OR dropped-then-re-added name
        # including retired rename chains (drops-first lets a re-ADD of an
        # original column replay with its NEW ddl/position instead of the
        # original field), and renamed-away names are never reused by
        # ADD/RENAME.
        for d in self.manifest.table_meta.get("dropped_columns", []):
            self.schema = T.StructType(
                [f for f in self.schema.fields if f.name != d])
        for a in self.manifest.table_meta.get("added_columns", []):
            if not any(f.name == a["name"] for f in self.schema.fields):
                self.schema = T.StructType(
                    list(self.schema.fields)
                    + list(T.StructType.fromDDL(f'`{a["name"]}` {a["ddl"]}')))
        for r in self.manifest.table_meta.get("renamed_columns", []):
            self.schema = T.StructType([
                T.StructField(r["to"], f.dataType, f.nullable)
                if f.name == r["from"] else f
                for f in self.schema.fields])
        # MODIFY COLUMN log last (entries carry post-rename names; later
        # entries win naturally by replay order)
        for mrec in self.manifest.table_meta.get("modified_columns", []):
            mtype = T.StructType.fromDDL(f'`x` {mrec["ddl"]}')[0].dataType
            self.schema = T.StructType([
                T.StructField(mrec["name"], mtype, f.nullable)
                if f.name == mrec["name"] else f
                for f in self.schema.fields])
        # ALTER ADD INDEX log: re-apply persisted skipping indexes before
        # metadata rebuild so recovered parts index the full set too.
        for rec in self.manifest.table_meta.get("indexes", []):
            self._apply_index_config(rec["col"], rec["kind"], rec.get("n"))
        # ALTER ADD PROJECTION log (JSON round-trip: lists → tuples)
        for rec in self.manifest.table_meta.get("projections", []):
            if not any(s.name == rec["name"]
                       for s in self.config.projections):
                self.config.projections = tuple(self.config.projections) + (
                    ProjectionSpec(rec["name"], tuple(rec["group_by"]),
                                   {k: tuple(v)
                                    for k, v in rec["aggs"].items()},
                                   tuple(rec.get("order_by", ()))),)
        # ALTER MODIFY SETTING log: runtime overrides beat the
        # constructor config, like ClickHouse's table-settings persistence
        for k, v in self.manifest.table_meta.get(
                "settings_overrides", {}).items():
            setattr(self.config, k, v)
        self._rebuild_missing_metadata()
        # A surviving mutation intent record means a previous process died
        # mid-mutation: per-part swaps are atomic, so the table is
        # consistent, but the mutation reached only a prefix of parts.
        # Surface it (see mutate() docstring for reconciliation guidance);
        # clearing is the caller's decision via clear_incomplete_mutation().
        self.incomplete_mutation: dict | None = (
            self.manifest.table_meta.get("active_mutation"))
        if self.incomplete_mutation is not None:
            warnings.warn(
                f"table {base_path!r} has an incomplete "
                f"{self.incomplete_mutation['kind']!r} mutation "
                f"(pending part ids "
                f"{self.incomplete_mutation['pending_part_ids']}); re-run "
                "the mutation, then clear_incomplete_mutation()",
                stacklevel=2)
        self._bg_stop = threading.Event()
        self._bg_thread: threading.Thread | None = None
        # the background loop's latest failure: {"error", "time"} or None
        self.last_error: dict | None = None
        # SYSTEM STOP MERGES state — deliberately in-memory only, like
        # ClickHouse's (the flag does not survive a server restart)
        self._merges_stopped = False
        if self.config.enable_background_merge:
            self.start_background_maintenance()

    # ------------------------------------------------------------------ utils

    @property
    def _key(self) -> str:
        return self.config.key_col

    @property
    def _ts(self) -> str:
        return self.config.ts_col

    def _empty_df(self) -> DataFrame:
        return self.spark.createDataFrame([], self.schema)

    def _rebuild_missing_metadata(self) -> None:
        """Manifest-less recovery: parts found by directory scan carry
        placeholder stats — rebuild them with one aggregate per part
        (reference lazily loads metadata at open, src/merge_tree.cpp:185-190).
        Blooms built under an older hash scheme make no claim, so they are
        rebuilt here too — one scan per such part, once — rather than
        waiting for a rewrite the merge selector may never schedule."""
        dirty = False
        for p in self.manifest.parts:
            if p.row_count >= 0:
                dirty |= self._rebuild_stale_blooms(p)
                continue
            stats = self._part_stats(self.spark.read.schema(self.schema)
                                     .parquet(p.path))
            p.min_key, p.max_key = stats["min_key"], stats["max_key"]
            p.min_ts, p.max_ts = stats["min_ts"], stats["max_ts"]
            p.row_count = stats["row_count"]
            p.disk_size = _dir_size(p.path)
            if self.config.minmax_cols:
                p.col_stats = {
                    c: [stats[f"mm_min_{c}"], stats[f"mm_max_{c}"]]
                    for c in self.config.minmax_cols
                }
            if self.config.set_index_cols:
                p.col_sets = {
                    c: (sorted(stats[f"set_{c}"])
                        if len(stats[f"set_{c}"]) <= n else None)
                    for c, n in self.config.set_index_cols
                }
            if self.config.enable_bloom_index:
                self._attach_bloom(p)
            if self.config.token_bloom_cols:
                self._attach_token_blooms(p)
            if self.config.ngram_bloom_cols:
                self._attach_ngram_blooms(p)
            dirty = True
        if dirty:
            self.manifest.save()

    def _rebuild_stale_blooms(self, p: PartMeta) -> bool:
        """Rebuild ``p``'s key, token and n-gram blooms whose scheme tag
        is not BLOOM_ALGO; True when any was rebuilt."""
        stale = False
        if (self.config.enable_bloom_index and p.bloom_hex
                and p.bloom_algo != BLOOM_ALGO):
            self._attach_bloom(p)
            stale = True
        if any(b.get("algo") != BLOOM_ALGO
               for b in (p.token_blooms or {}).values()):
            self._attach_token_blooms(p)
            stale = True
        if any(b.get("algo") != BLOOM_ALGO
               for b in (p.ngram_blooms or {}).values()):
            self._attach_ngram_blooms(p)
            stale = True
        return stale

    def _part_stats(self, df: DataFrame) -> dict:
        """R24 metadata aggregate (reference src/part.cpp:219-246), plus
        the minmax skip-index stats when configured (recovery path)."""
        aggs = [
            F.min(self._key).alias("min_key"),
            F.max(self._key).alias("max_key"),
            F.min(self._ts).alias("min_ts"),
            F.max(self._ts).alias("max_ts"),
            F.count("*").alias("row_count"),
        ]
        for c in self.config.minmax_cols:
            aggs += [F.min(c).alias(f"mm_min_{c}"),
                     F.max(c).alias(f"mm_max_{c}")]
        for c, _n in self.config.set_index_cols:
            aggs.append(F.collect_set(F.col(c).cast("string"))
                        .alias(f"set_{c}"))
        row = df.agg(*aggs).collect()[0]
        return row.asDict()

    # ----------------------------------------------------------------- writes

    def attach_view(self, view, populate: bool = False) -> None:
        """Bind a MaterializedView: every subsequently inserted block is
        also pushed through the view's transform (ClickHouse MV trigger
        semantics — inserts only; merges/TTL/drops are invisible to
        views). ``populate=True`` backfills the view from the table's
        CURRENT contents first (``CREATE MATERIALIZED VIEW ... POPULATE``
        — with ClickHouse's own caveat: rows inserted between the
        snapshot read and the attach would be missed; here the flush +
        single-threaded attach makes the handoff exact)."""
        if populate:
            self.flush()
            existing = self.query_all()
            if existing.take(1):
                view.on_batch(existing)
        self._views.append(view)

    def detach_view(self, view) -> None:
        """Unbind a MaterializedView attached with attach_view (the DROP
        TABLE mv path): later inserts stop flowing into its target. A
        view not currently attached is a no-op — DROP is idempotent."""
        with self._lock:
            if view in self._views:
                self._views.remove(view)

    def _notify_views(self, df: DataFrame) -> None:
        for v in self._views:
            v.on_batch(df)

    def _rows_df(self, rows: list[tuple]) -> DataFrame:
        """Buffered driver-side rows as a JVM VALUES LocalRelation.
        createDataFrame(list) plans as a parallelized Python RDD whose
        every action (each flush, each buffered read) costs a Python
        worker round trip — seconds per job; a LocalRelation is free.
        Driver-side rows are demo/test-scale by design (production feeds
        insert_batch with distributed DataFrames), so literal SQL size is
        bounded by the flush threshold; past 10k rows the SQL-text route
        stops paying and we fall back to createDataFrame."""
        if len(rows) > 10_000:
            return self.spark.createDataFrame(rows, self.schema)
        from clickhouse_mergetree_spark.tables import values_df
        cols = [(f.name, f.dataType.simpleString())
                for f in self.schema.fields]
        return values_df(self.spark, rows, cols)

    def insert(self, key, value, timestamp) -> None:
        """R1: single-row insert → buffer, threshold-flush
        (reference src/merge_tree.cpp:24-35). Batch is the native unit in
        Spark; single rows are a degenerate batch (SURVEY §7.3)."""
        with self._lock:
            self._buffer_rows.append((key, value, timestamp))
            self._buffer_count += 1
        if self._views:
            self._notify_views(self._rows_df([(key, value, timestamp)]))
        self.trigger_flush_if_needed()

    def _check_parts_throw(self) -> None:
        """ClickHouse ``parts_to_throw_insert`` back-pressure: refuse the
        insert when any partition's live part count has run away — the
        famous "Too many parts" guard that keeps ingestion from outpacing
        compaction until reads and merges degrade unrecoverably. Off by
        default (``max_parts_to_throw=0``); when set, inserts raise once
        a partition reaches the limit and the caller must let merges
        catch up (optimize / background maintenance), exactly the
        ClickHouse operational contract. Checked at insert (not flush)
        so the error surfaces where the producer can react."""
        limit = getattr(self.config, "max_parts_to_throw", 0)
        if not limit:
            return
        with self._lock:
            counts: dict[str | None, int] = {}
            for p in self.manifest.parts:
                counts[p.partition] = counts.get(p.partition, 0) + 1
        worst = max(counts.values(), default=0)
        if worst >= limit:
            part_val = max(counts, key=counts.get)
            raise RuntimeError(
                f"Too many parts ({worst} >= {limit}) in partition "
                f"{part_val!r} — merges are not keeping up with inserts; "
                f"run optimize() or enable background maintenance")

    def insert_batch(self, df: DataFrame, row_count: int | None = None,
                     defer_count: bool = False) -> None:
        """Batch insert. ``row_count`` avoids a count() job when the caller
        already knows it (e.g. foreachBatch gives exact micro-batch sizes).

        ``defer_count=True`` skips the count job entirely and buffers the
        block UNCOUNTED: the exact row count comes later — from the flush
        write job's own Observation, or lazily (`_resolve_deferred`) if an
        exact-accounting path (total_rows, system.parts, buffered TTL /
        partition filtering) runs first. Built for MaterializedView
        partials, where the insert-time count() was a SECOND full
        execution of the view transform per block (the flush re-executes
        the lazy plan anyway). Uncounted blocks do not advance the flush
        threshold — MV targets buffer under an effectively-infinite
        threshold, which is exactly the configuration this is for.

        Columns with a DDL-declared DEFAULT (create_table_from_ddl) may be
        omitted from ``df`` — they fill from their default expression here,
        the ClickHouse INSERT contract."""
        cd = self.manifest.table_meta.get("column_defaults") or {}
        if cd:
            have = set(df.columns)
            for col, expr in cd.items():
                fld = next((f for f in self.schema.fields
                            if f.name == col), None)
                if fld is not None and col not in have:
                    df = df.withColumn(
                        col, F.expr(expr).cast(fld.dataType))
        self._check_parts_throw()
        if row_count is None and not defer_count:
            row_count = df.count()
        if row_count == 0:
            return
        with self._lock:
            self._buffer_dfs.append((df, row_count))  # None = uncounted
            self._buffer_count += row_count or 0
        self._notify_views(df)
        self.trigger_flush_if_needed()

    def _resolve_deferred(self) -> None:
        """Count any defer_count blocks still in the buffer — called by
        the paths whose contract needs exact pre-flush accounting
        (total_rows, system.parts buffered_rows, buffered TTL/partition
        filtering). One count job per uncounted block, only when actually
        demanded. ``_resolve_lock`` serializes concurrent resolvers: the
        second caller blocks, then re-snapshots an empty pending list —
        without it both would run a full count job for the same block
        and discard one result (ADVICE r13)."""
        with self._resolve_lock:
            self._resolve_deferred_locked()

    def _resolve_deferred_locked(self) -> None:
        with self._lock:
            pending = [d for d, n in self._buffer_dfs if n is None]
        for d in pending:
            n = d.count()
            with self._lock:
                # re-locate by IDENTITY, not index: a concurrent flush or
                # insert may have drained/reordered the buffer while the
                # count job ran — a stale index would crash or pin the
                # count on the wrong block (r13 review find)
                for i, (df, old) in enumerate(self._buffer_dfs):
                    if old is None and df is d:
                        self._buffer_dfs[i] = (df, n)
                        self._buffer_count += n
                        break

    def insert_rows(self, rows: list[tuple]) -> None:
        self._check_parts_throw()
        with self._lock:
            self._buffer_rows.extend(rows)
            self._buffer_count += len(rows)
        if self._views and rows:
            self._notify_views(self._rows_df(rows))
        self.trigger_flush_if_needed()

    def trigger_flush_if_needed(self) -> None:
        """R17 (reference src/merge_tree.cpp:228-238)."""
        if self._buffer_count >= self.config.memtable_flush_threshold:
            self.flush()

    def _buffer_df(self) -> DataFrame | None:
        with self._lock:
            if (self._buffer_count == 0
                    and not any(n is None for _, n in self._buffer_dfs)):
                return None
            dfs = [d for d, _ in self._buffer_dfs]
            if self._buffer_rows:
                dfs.append(self._rows_df(self._buffer_rows))
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def flush(self) -> int | None:
        """R16: drain buffer → one sorted parquet part + manifest append
        (reference src/merge_tree.cpp:69-91, src/part.cpp:39-65); with
        ``partition_col`` set, one part PER partition value in the buffer
        (parts never span partitions — the ClickHouse MergeTree insert
        contract). Returns the last part id actually appended to the
        manifest, or None if the buffer was empty or every split
        evaluated to 0 rows (possible with uncounted defer_count blocks —
        a never-appended id must not leak to callers)."""
        with self._lock:
            df = self._buffer_df()
            if df is None:
                return None
            # n_rows sizes the part's file count; uncounted defer_count
            # blocks contribute 0, so a buffer of ONLY deferred MV
            # partials sizes at the single-file floor — acceptable
            # because deferral is restricted to bounded-cardinality
            # aggregate blocks (matview.on_batch), and the manifest's
            # row_count stays exact via the write job's Observation.
            n_rows = self._buffer_count
            self._buffer_rows = []
            self._buffer_dfs = []
            self._buffer_count = 0
        if self.config.partition_col is None \
                and self.config.partition_expr is None:
            splits = [(None, df, n_rows)]
        else:
            # one small distinct job to enumerate the buffer's partitions
            # (bounded by partition cardinality, not data size), then one
            # part write per value. At scale a single partitionBy write
            # job plus per-directory footer stats would replace the loop;
            # the manifest shape is identical either way.
            pcol = self._partition_col_expr()
            values = [r[0] for r in
                      df.select(pcol.alias("__p")).distinct().collect()]
            splits = [
                (str(v), df.filter(pcol.eqNullSafe(v)),
                 max(1, n_rows // max(1, len(values))))
                for v in sorted(values, key=str)
            ]
        # Two-stage commit so the INSERT is all-or-nothing even when the
        # buffer splits into several partition parts: stage 1 writes every
        # split's files (each split's CHECK/Enum validation rides its own
        # write job inside _write_part and rolls back its files on
        # violation); stage 2 appends ALL metas to the manifest in one
        # locked save. A violation in ANY split therefore leaves the
        # manifest untouched and every already-written sibling part dir
        # deleted — the ClickHouse contract of validating the whole insert
        # block before any part becomes visible, without a separate
        # pre-scan over the buffer.
        # A partitioned buffer whose frame evaluates to 0 rows (caller
        # passed row_count as a non-empty marker) yields zero splits —
        # nothing to write, same graceful no-op as the sequential loop.
        if not splits:
            return None
        # Pre-allocate every split's part id in sorted-partition order
        # (deterministic id↔partition mapping), then run the independent
        # per-split write jobs CONCURRENTLY — each split writes its own
        # part dir with its own uuid-named Observation, so a 5-partition
        # insert costs ~max(split job) wall-clock instead of 5 sequential
        # jobs (r13: the partitioned fixture family — q_attach_from,
        # q_alter_ddl, partition ops — topped the bench on exactly this
        # loop). run_concurrently returns results in INPUT order (manifest
        # append order stays the sequential order) and drains on failure;
        # ``written`` accumulates completion-side so the rollback sees
        # every split that finished even when the ordered result list was
        # never returned.
        with self._lock:
            ids = [self.manifest.allocate_part_id() for _ in splits]
        metas = self._run_part_writes(
            [(lambda pid=pid, sp=sp: self._write_part(
                pid, sp[1], sp[2], partition=sp[0],
                enforce_constraints=True))
             for pid, sp in zip(ids, splits)])
        part_id = None  # last APPENDED id — every meta can be 0-row
        with self._lock:
            for meta in metas:
                if meta.row_count == 0:
                    # possible only via an uncounted (defer_count) block
                    # that evaluated empty: a 0-row part has None stats
                    # and would poison pruning/TTL classification (the
                    # _swap_or_remove rule, applied to inserts)
                    self._delete_part_dirs(meta)
                    continue
                self.manifest.append(meta)
                part_id = meta.part_id
            self.manifest.save()
        return part_id

    def _delete_part_dirs(self, p: PartMeta) -> None:
        """Physically remove a part's data dir AND its projection dirs —
        the single deletion point every reclaim path goes through.
        Pending deferred index builds are drained first (suppressed):
        a build job must never race the deletion of files it is reading,
        and sibling parts' in-flight blooms get attached rather than
        lost. Near-free when nothing is pending."""
        self._drain_index_builds(suppress=True)
        shutil.rmtree(p.path, ignore_errors=True)
        for ppath in (p.proj_paths or {}).values():
            shutil.rmtree(ppath, ignore_errors=True)

    def _run_part_writes(self, thunks) -> list[PartMeta]:
        """Run independent part-write thunks (each returns a PartMeta) as
        CONCURRENT Spark jobs — the same job-level parallelism as flush's
        split writes: per-part rewrites (mutations, TTL, FINAL merges,
        backfills) are independent tasks in ClickHouse's background pool,
        and Spark's scheduler happily overlaps jobs submitted from driver
        threads. Results come back in input order. On any failure every
        COMPLETED part dir is deleted before the first error re-raises —
        the manifest never saw any of the new parts, so the table state
        is untouched (flush's all-or-nothing write-stage contract)."""
        written: list[PartMeta] = []

        def wrap(fn):
            def run() -> PartMeta:
                m = fn()
                written.append(m)  # list.append is atomic under the GIL
                return m
            return run

        from clickhouse_mergetree_spark.parallel import run_concurrently
        try:
            return run_concurrently([wrap(fn) for fn in thunks],
                                    max_workers=min(8, len(thunks)))
        except BaseException:
            # BaseException, not Exception: run_concurrently re-raises
            # KeyboardInterrupt etc. from worker thunks, and skipping the
            # cleanup would leak every completed part dir invisibly (the
            # manifest never saw them) — same clause as the commit loops
            for m in written:
                self._delete_part_dirs(m)
            raise

    def _single_task(self, df: DataFrame, n_rows: int | None,
                     probe: bool = False) -> DataFrame:
        """The one-task gate. When ``n_rows`` — proven by manifest row
        counts, None when unknown — is at most ONE_TASK_MAX_ROWS
        (ONE_TASK_MAX_PROBE_ROWS for a match-count ``probe``) and fits in
        one part file (the ``rows_per_file`` test _write_part_files
        applies before writing one file through coalesce(1)), coalesce to
        ONE partition before any collapse, sort or count: a single
        partition satisfies every distribution those ask for, so Spark
        plans no exchange, no AQE stage and no range-sampling job — the
        whole read, merge or probe is one job, like the reference's
        bounded scan and streaming k-way merge (src/merger.cpp:7-59).
        Larger or unknown inputs keep the parallel plan. A gated read
        hands its caller a one-partition DataFrame."""
        bound = ONE_TASK_MAX_PROBE_ROWS if probe else ONE_TASK_MAX_ROWS
        if (n_rows is not None
                and n_rows <= min(bound, self.config.rows_per_file)):
            return df.coalesce(1)
        return df

    @staticmethod
    def _known_rows(parts: list[PartMeta]) -> int | None:
        """Σ row_count of ``parts``, or None when any count is unknown
        (a recovered part before its stats rebuild, row_count < 0)."""
        if any(p.row_count < 0 for p in parts):
            return None
        return sum(p.row_count for p in parts)

    def _match_counts(self, parts: list[PartMeta], hit=None) -> list[int]:
        """Per-part row counts (optionally of rows matching ``hit``) in
        ONE Spark job: one scan per _read_parts schema group, each row
        tagged with the id of the part directory its file sits in, then
        one groupBy(part id) count — N candidate parts cost one
        scheduler round-trip and one scan of the candidate set instead
        of N count() jobs (at 10⁴ parts the probe wave is
        round-trip-bound, not scan-bound). Small candidate sets run as
        one task (_single_task). Results in input order; parts with
        no matching rows count 0 — exactly the per-part count()
        semantics."""
        if not parts:
            return []
        df = self._read_parts(parts, part_id_col="__pid")
        if hit is not None:
            df = df.filter(hit)
        got = {int(r["__pid"]): int(r["n"])
               for r in self._single_task(df, self._known_rows(parts),
                                          probe=True)
               .groupBy("__pid").agg(F.count(F.lit(1)).alias("n"))
               .collect()}
        return [got.get(p.part_id, 0) for p in parts]

    def _write_part(self, part_id: int, df: DataFrame, n_rows: int,
                    partition: str | None = None,
                    enforce_constraints: bool = False) -> PartMeta:
        """Guard wrapper: a part write that fails for ANY reason — CHECK
        violation, projection write error, observation/stats failure —
        must leave no orphan files. The manifest never saw the part, so
        its dir would be invisible to every reclaim path (detach, merge
        GC, recovery) and leak disk forever. The part dir and the
        deterministic projection dirs are deleted before re-raising;
        rmtree of a never-written path is a no-op (r11 review find: only
        the CHECK branch rolled back, a post-write failure leaked)."""
        try:
            return self._write_part_files(
                part_id, df, n_rows, partition=partition,
                enforce_constraints=enforce_constraints)
        except BaseException:
            shutil.rmtree(os.path.join(self.base_path, f"part_{part_id}"),
                          ignore_errors=True)
            for spec in (self.config.projections or []):
                shutil.rmtree(
                    os.path.join(self.base_path,
                                 f"part_{part_id}_proj_{spec.name}"),
                    ignore_errors=True)
            raise

    def _write_part_files(self, part_id: int, df: DataFrame, n_rows: int,
                          partition: str | None = None,
                          enforce_constraints: bool = False) -> PartMeta:
        """Sorted columnar part write (R12+R18). repartitionByRange makes
        per-file key ranges disjoint; sortWithinPartitions orders rows inside
        each file so parquet row-group min/max stats are tight — together the
        Spark analog of the reference's global sort + sparse index
        (src/part.cpp:44-45, src/part.cpp:248-257).

        The R24 manifest stats ride along on the write job itself via
        ``observe`` — no second read-back scan of the part. (The reference
        also computes metadata during the part write, src/part.cpp:23-28.)
        """
        import uuid

        path = os.path.join(self.base_path, f"part_{part_id}")
        n_files = max(1, ceil(n_rows / self.config.rows_per_file))
        shaped = (
            df.repartitionByRange(n_files, self._key, self._ts)
            .sortWithinPartitions(self._key, self._ts)
            if n_files > 1
            else df.coalesce(1).sortWithinPartitions(self._key, self._ts)
        )
        obs_name = f"part_stats_{uuid.uuid4().hex[:8]}"
        from pyspark.sql import Observation

        metrics = [
            F.min(self._key).alias("min_key"),
            F.max(self._key).alias("max_key"),
            F.min(self._ts).alias("min_ts"),
            F.max(self._ts).alias("max_ts"),
            F.count(F.lit(1)).alias("row_count"),
        ]
        if self.config.enable_bloom_index:
            # The bloom rides the SAME write job as fixed-size bitmap
            # aggregates — no second scan of the part, a few KiB back to
            # the driver regardless of part size; approx_count_distinct
            # sizes the bitmap (observe forbids exact DISTINCT aggregates,
            # and sizing only needs the magnitude).
            shaped = shaped.select("*", *bloom_position_cols(self._key,
                                                             "__bloom_"))
            metrics += bloom_bitmap_aggs("__bloom_")
            metrics.append(
                F.approx_count_distinct(self._key).alias("bloom_nd"))
        for c in self.config.minmax_cols:
            # minmax skip index rides the same write-job observation
            metrics += [F.min(c).alias(f"mm_min_{c}"),
                        F.max(c).alias(f"mm_max_{c}")]
        for c, _n in self.config.set_index_cols:
            # set(N) skip index rides the same write-job observation:
            # distinct canonical-string values, partial+final hash agg
            # collapses occurrences map-side. The overflow cap applies
            # driver-side (> N ⇒ stored as "no claim"); the index
            # targets low-cardinality columns, so the collected set is
            # bounded by the column's vocabulary, not the part size.
            if c in df.columns:
                metrics.append(F.collect_set(F.col(c).cast("string"))
                               .alias(f"set_{c}"))
        constraints = (self.constraints() if enforce_constraints else [])
        for i, c in enumerate(constraints):
            # CHECK constraints ride the same write-job observation: a
            # row violates when its predicate is not TRUE (false OR null)
            metrics.append(F.sum(
                F.when(F.expr(c["expr"]), 0).otherwise(1))
                .alias(f"viol_{i}"))
        obs = Observation(obs_name)
        shaped = shaped.observe(obs, *metrics)
        if self.config.enable_bloom_index:
            shaped = shaped.drop(*[f"__bloom_p{i}" for i in range(BLOOM_K)])
        writer = shaped.write.mode("overwrite")
        if self.config.part_compression:
            # ClickHouse CODEC(...) analog at part granularity: parquet
            # column-chunk codec chosen per table. Merges re-encode with
            # the current setting, so changing it migrates data lazily —
            # the same ride-the-rewrite contract as every ALTER here.
            writer = writer.option("compression",
                                   self.config.part_compression)
        if self.config.part_block_bytes:
            # within-file granule: key-sorted rows + small row groups =
            # tight min/max strides for the scanner to skip (R9)
            writer = writer.option("parquet.block.size",
                                   str(self.config.part_block_bytes))
        writer.parquet(path)
        stats = obs.get
        for i, c in enumerate(constraints):
            # violation found during the write job: roll the files back
            # BEFORE the manifest ever sees the part — the insert fails,
            # the table is untouched (ClickHouse CHECK-at-INSERT contract)
            n_bad = int(stats[f"viol_{i}"] or 0)
            if n_bad:
                shutil.rmtree(path, ignore_errors=True)
                raise ValueError(
                    f"constraint {c['name']!r} violated by {n_bad} "
                    f"row(s): CHECK ({c['expr']})")
        meta = PartMeta(
            part_id=part_id, path=path,
            min_key=stats["min_key"], max_key=stats["max_key"],
            min_ts=stats["min_ts"], max_ts=stats["max_ts"],
            row_count=stats["row_count"], disk_size=_dir_size(path),
            partition=partition,
            columns=[f.name for f in df.schema.fields],
        )
        if self.config.enable_bloom_index:
            meta.bloom_bits = bloom_size_for(int(stats["bloom_nd"]))
            meta.bloom_k = BLOOM_K
            meta.bloom_algo = BLOOM_ALGO
            meta.bloom_hex = bloom_hex_from_row(stats, "__bloom_",
                                                meta.bloom_bits)
        if self.config.minmax_cols:
            meta.col_stats = {
                c: [stats[f"mm_min_{c}"], stats[f"mm_max_{c}"]]
                for c in self.config.minmax_cols
            }
        if self.config.set_index_cols:
            meta.col_sets = {
                c: (sorted(stats[f"set_{c}"])
                    if len(stats[f"set_{c}"]) <= n else None)
                for c, n in self.config.set_index_cols
                if c in df.columns
            }
        if (self.config.projections or self.config.token_bloom_cols
                or self.config.ngram_bloom_cols):
            self._submit_index_builds(meta)
        return meta

    def _build_projections(self, part_id: int, path: str,
                           columns: list[str] | None) -> dict[str, str]:
        """Build one part's projection files from its WRITTEN bytes.
        Projections ride the part lifecycle (ClickHouse contract): every
        new part — flush, merge, mutation rewrite, TTL rewrite — gets
        its projections recomputed from the same rows, so they can never
        drift from the data. Pure compute + deterministic-path writes —
        no metadata mutation, safe from any thread (the deferred-build
        pool runs this; _drain_index_builds attaches the result)."""
        present = (set(columns) if columns is not None
                   else {f.name for f in self.schema.fields})
        part_df = self.spark.read.schema(
            T.StructType([f for f in self.schema.fields
                          if f.name in present])).parquet(path)
        proj_paths: dict[str, str] = {}
        for spec in self.config.projections:
            ppath = os.path.join(self.base_path,
                                 f"part_{part_id}_proj_{spec.name}")
            (self._apply_projection(part_df, spec)
             .coalesce(1).write.mode("overwrite").parquet(ppath))
            proj_paths[spec.name] = ppath
        return proj_paths

    @staticmethod
    def _apply_projection(df: DataFrame, spec: ProjectionSpec) -> DataFrame:
        """Build one part's projection file content (write path): a sort
        projection re-sorts the part's rows by the secondary key (one
        file, so the sort produces monotone row-group stats — the whole
        point); an aggregate projection collapses to one partial."""
        if spec.order_by:
            return df.coalesce(1).sortWithinPartitions(*spec.order_by)
        aggs = []
        for out, (fn, src) in spec.aggs.items():
            if fn == "count":
                aggs.append(F.count(F.lit(1)).alias(out))
            elif fn in ("sum", "min", "max"):
                aggs.append(getattr(F, fn)(src).alias(out))
            else:
                raise ValueError(f"unsupported projection agg {fn!r}")
        return df.groupBy(*spec.group_by).agg(*aggs)

    def _merge_projection_partials(self, df: DataFrame,
                                   spec: ProjectionSpec,
                                   group_by: tuple[str, ...]) -> DataFrame:
        """Re-aggregate projection partials onto ``group_by`` ⊆ the spec's
        grouping: sums/counts combine by SUM, min/max by MIN/MAX — exact
        because every agg the spec admits is re-aggregable."""
        aggs = [
            (F.sum(out) if fn in ("sum", "count") else getattr(F, fn)(out))
            .cast(dict(df.dtypes)[out]).alias(out)
            for out, (fn, _src) in spec.aggs.items()
        ]
        return df.groupBy(*group_by).agg(*aggs)

    # Tokenization contract shared by the index build and the row-level
    # predicate (and mirrored by oracles as
    # string_split_regex(lower(col), '[^a-z0-9]+')).
    TOKEN_SPLIT_RE = "[^a-z0-9]+"

    def _token_col(self, col: str):
        return F.array_distinct(F.filter(
            F.split(F.lower(F.col(col)), self.TOKEN_SPLIT_RE),
            lambda t: t != F.lit("")))

    def _attach_token_blooms(self, meta: PartMeta) -> None:
        """Synchronous build+attach of the per-part token blooms
        (recovery and MATERIALIZE INDEX backfill paths); the write path
        defers the identical compute via _submit_index_builds."""
        meta.token_blooms = {
            col: self._token_bloom_for(meta.path, col)
            for col in self.config.token_bloom_cols
            if meta.columns is None or col in meta.columns}

    def _token_bloom_for(self, path: str, col: str) -> dict:
        """Build one column's token bloom (tokenbf_v1 analog): one
        single-column scan — explode to lowercased word tokens and fold
        their positions into bitmaps (bloom_bitmap_aggs). Runs for every
        part write, so merges, mutations and TTL rewrites refresh the
        index for free. Pure compute over the written files — no
        metadata mutation, safe from any thread."""
        return self._value_bloom(path, col, self._token_col(col))

    def _value_bloom(self, path: str, col: str, values) -> dict:
        """One bloom over the exploded ``values`` array of ``col``. Two
        cost levers: (1) a part is often ONE file = one scan task, so
        rows spread before the explode; (2) the value SPACE is small
        (≤ charset^n ≈ 20k distinct 3-grams, a vocabulary of tokens)
        while OCCURRENCES are ~values-per-row × rows (millions) — dedupe
        FIRST (partial+final hash agg collapses occurrences map-side),
        THEN hash only the distinct values."""
        row = (
            self.spark.read.parquet(path)
            .select(col)
            .repartition(self.spark.sparkContext.defaultParallelism)
            .select(F.explode(values).alias("v"))
            .distinct()
            .select("v", *bloom_position_cols("v", "b"))
            .agg(F.approx_count_distinct("v").alias("nd"),
                 *bloom_bitmap_aggs("b"))
            .collect()[0]
        )
        bits = bloom_size_for(int(row["nd"]))
        return {
            "hex": bloom_hex_from_row(row, "b", bits),
            "bits": bits, "k": BLOOM_K, "algo": BLOOM_ALGO,
        }

    def _ngram_col(self, col: str):
        """Distinct lowercased character n-grams of a string column —
        the contract shared by the index build and may_contain_substring.
        Strings shorter than n contribute nothing (and can't match any
        indexable needle anyway)."""
        n = self.config.ngram_n
        return F.expr(
            f"CASE WHEN length(lower({col})) < {n} "
            f"THEN CAST(array() AS ARRAY<STRING>) "
            f"ELSE array_distinct(transform("
            f"  sequence(1, length(lower({col})) - {n - 1}),"
            f"  i -> substring(lower({col}), i, {n}))) END"
        )

    def _attach_ngram_blooms(self, meta: PartMeta) -> None:
        """Synchronous build+attach of the per-part n-gram blooms
        (recovery and MATERIALIZE INDEX backfill paths); the write path
        defers the identical compute via _submit_index_builds."""
        meta.ngram_blooms = {
            col: self._ngram_bloom_for(meta.path, col)
            for col in self.config.ngram_bloom_cols
            if meta.columns is None or col in meta.columns}

    def _ngram_bloom_for(self, path: str, col: str) -> dict:
        """Build one column's n-gram bloom (ngrambf_v1 analog): one
        single-column scan — explode to lowercased n-grams and fold
        their positions into bitmaps (bloom_bitmap_aggs). Runs for every
        part write, so merges, mutations and TTL rewrites refresh the
        index for free. The gram alphabet is bounded (≤ charset^n
        distinct grams), so the bitmap saturates gracefully on huge
        parts instead of growing. Pure compute over the written files —
        safe from any thread."""
        return {**self._value_bloom(path, col, self._ngram_col(col)),
                "n": self.config.ngram_n}

    def _submit_index_builds(self, meta: PartMeta) -> None:
        """Deferred per-part derived builds (guide §2.6): the token/ngram
        bloom build and the projection-partial writes are extra Spark
        jobs over the part just written; running them synchronously
        serialized every flush on an indexed/projected table as write +
        re-read(s). Submit them to a small background pool instead so
        they overlap the CALLER's next action (the next
        insert/flush/merge). Until a build lands the part simply makes
        no claim — a missing bloom means scan, a missing projection
        routes the reader to its raw rows (the documented
        projection-or-raw planner contract) — and every metadata
        consumer drains first (_drain_index_builds), so query results
        and persisted manifest metadata are identical to the synchronous
        build. Called LAST in the part-write path, so a part that rolls
        back can never have a pending job reading its deleted files."""
        cols_tok = [c for c in self.config.token_bloom_cols
                    if meta.columns is None or c in meta.columns]
        cols_ng = [c for c in self.config.ngram_bloom_cols
                   if meta.columns is None or c in meta.columns]
        specs = list(self.config.projections or [])
        if not cols_tok and not cols_ng and not specs:
            return

        def build() -> tuple[dict, dict, dict | None]:
            try:
                proj = (self._build_projections(
                    meta.part_id, meta.path, meta.columns)
                    if specs else None)
                return (
                    {c: self._token_bloom_for(meta.path, c)
                     for c in cols_tok},
                    {c: self._ngram_bloom_for(meta.path, c)
                     for c in cols_ng},
                    proj,
                )
            except BaseException:
                # a failed build must not leak half-written projection
                # dirs: proj_paths is never assigned, so readers fall
                # back to raw rows and nothing references these files
                for spec in specs:
                    shutil.rmtree(
                        os.path.join(self.base_path,
                                     f"part_{meta.part_id}_proj_{spec.name}"),
                        ignore_errors=True)
                raise

        with self._index_lock:
            if self._index_pool is None:
                from concurrent.futures import ThreadPoolExecutor
                # 2 in-flight build jobs: enough to overlap the caller's
                # next action without starving foreground jobs
                self._index_pool = ThreadPoolExecutor(
                    max_workers=2, thread_name_prefix="mt-index")
            self._pending_index.append((meta, self._index_pool.submit(build)))

    def _drain_index_builds(self, suppress: bool = False) -> None:
        """Wait for every pending deferred index build, attach the
        results to the part metadata, and persist the manifest if any
        landed part is already committed (a flush may have saved it
        bloom-less; the re-save restores byte-identical metadata to the
        synchronous build). Serialized under _index_drain_lock so a
        concurrent drainer returns only after results are ATTACHED, and
        that lock is never held while taking self._lock (the save step
        runs after release — no AB-BA with callers that drain while
        holding self._lock, e.g. flush's 0-row rollback).

        ``suppress=True`` (deletion/rollback paths) swallows build
        errors: the part files may already be gone mid-build, and a
        missing bloom is merely 'no claim'."""
        first_err: BaseException | None = None
        applied: list[PartMeta] = []
        with self._index_drain_lock:
            with self._index_lock:
                pending, self._pending_index = self._pending_index, []
            for meta, fut in pending:
                try:
                    tok, ng, proj = fut.result()
                except BaseException as exc:  # noqa: BLE001 — re-raised
                    if first_err is None:
                        first_err = exc
                    continue
                if tok:
                    meta.token_blooms = tok
                if ng:
                    meta.ngram_blooms = ng
                if proj is not None:
                    meta.proj_paths = proj
                applied.append(meta)
        if applied:
            with self._lock:
                live = {id(p) for p in self.manifest.parts}
                if any(id(m) in live for m in applied):
                    self.manifest.save()
        if first_err is not None and not suppress:
            raise first_err

    def wait_for_index_builds(self) -> None:
        """Public drain: block until every deferred skip-index build has
        landed in the part metadata (tests / callers who want the old
        synchronous-attach visibility)."""
        self._drain_index_builds()

    def _attach_bloom(self, meta: PartMeta) -> None:
        """Recovery-path bloom (re)build: one aggregate over the key column
        of an existing part (the write-path build rides the write job's
        observation instead — see _write_part)."""
        row = (
            self.spark.read.schema(self.schema).parquet(meta.path)
            .select(self._key, *bloom_position_cols(self._key, "b"))
            .agg(F.countDistinct(self._key).alias("nd"),
                 *bloom_bitmap_aggs("b"))
            .collect()[0]
        )
        meta.bloom_bits = bloom_size_for(row["nd"])
        meta.bloom_k = BLOOM_K
        meta.bloom_algo = BLOOM_ALGO
        meta.bloom_hex = bloom_hex_from_row(row, "b", meta.bloom_bits)

    # ----------------------------------------------------------------- reads

    def add_constraint(self, name: str, expr_sql: str) -> None:
        """``ALTER TABLE ... ADD CONSTRAINT name CHECK expr`` analog:
        every subsequent INSERT's flush validates the predicate during
        the part-write job itself (one conditional sum on the existing
        write observation — no extra scan) and rolls the part back before
        the manifest sees it if any row is not-TRUE (false or NULL), so a
        rejected insert leaves the table untouched. Existing data is NOT
        re-validated and merges/mutations never re-check — exactly
        ClickHouse's CHECK-at-INSERT contract. Persisted in the manifest,
        replayed on reopen, analyzed against the schema at ADD.

        Caveats (documented, matching ClickHouse's own block semantics):
        the rejected buffered batch is discarded — the caller fixes and
        re-inserts; on a partitioned table each partition's part commits
        independently, so a violation in a later partition split leaves
        earlier splits of the same flush committed."""
        self._empty_df().filter(F.expr(expr_sql)).schema
        with self._lock:
            recs = self.manifest.table_meta.setdefault("constraints", [])
            if any(r["name"] == name for r in recs):
                raise ValueError(f"constraint {name!r} already exists")
            recs.append({"name": name, "expr": expr_sql})
            self.manifest.save()

    def drop_constraint(self, name: str) -> None:
        """``ALTER TABLE ... DROP CONSTRAINT`` analog."""
        with self._lock:
            recs = self.manifest.table_meta.get("constraints", [])
            if not any(r["name"] == name for r in recs):
                raise KeyError(f"no constraint named {name!r}")
            self.manifest.table_meta["constraints"] = [
                r for r in recs if r["name"] != name]
            self.manifest.save()

    def constraints(self) -> list[dict]:
        with self._lock:
            return list(self.manifest.table_meta.get("constraints", []))

    def create_row_policy(self, name: str, expr_sql: str) -> None:
        """``CREATE ROW POLICY ... USING expr`` analog: a predicate every
        subsequent READ applies automatically — PII scoping, tenant
        isolation, soft-retention windows — persisted in the manifest, so
        it survives reopen and cannot be forgotten by a caller. Policies
        filter the LOGICAL table (after the engine's read-time collapse):
        what a policy hides is exactly a row of query_all()'s output.
        Physical rewrites (merges, mutations, TTL) are storage ops and
        never apply policies, so dropping a policy restores visibility —
        nothing is deleted. Multiple policies AND together (ClickHouse's
        restrictive combination)."""
        # Analyze against the table schema NOW (parse errors and unknown
        # columns surface at CREATE, not at some later read); .schema
        # runs analysis only, no job.
        self._empty_df().filter(F.expr(expr_sql)).schema
        with self._lock:
            recs = self.manifest.table_meta.setdefault("row_policies", [])
            if any(r["name"] == name for r in recs):
                raise ValueError(f"row policy {name!r} already exists")
            recs.append({"name": name, "expr": expr_sql})
            self.manifest.save()

    def drop_row_policy(self, name: str) -> None:
        """``DROP ROW POLICY`` analog: reads stop filtering from the next
        query — nothing was ever deleted, so visibility is restored."""
        with self._lock:
            recs = self.manifest.table_meta.get("row_policies", [])
            if not any(r["name"] == name for r in recs):
                raise KeyError(f"no row policy named {name!r}")
            self.manifest.table_meta["row_policies"] = [
                r for r in recs if r["name"] != name]
            self.manifest.save()

    def row_policies(self) -> list[dict]:
        with self._lock:
            return list(self.manifest.table_meta.get("row_policies", []))

    def _apply_policies(self, df: DataFrame) -> DataFrame:
        """AND every live row policy onto a logical-read result. The
        filter rides the same plan (whole-stage codegen, pushes toward
        the scan where Catalyst proves it safe) — no extra job."""
        for r in self.row_policies():
            df = df.filter(F.expr(r["expr"]))
        return df

    def _log_query(self, kind: str, parts_total: int,
                   parts_scanned: int) -> None:
        """Append one ``system.query_log`` row (plan-time facts: what the
        manifest pruned vs scheduled; row counts are an execution-time
        concept Spark's lazy plans don't surface here)."""
        with self._lock:
            self._query_log.append({
                "seq": len(self._query_log) + 1,
                "kind": kind,
                "parts_total": parts_total,
                "parts_scanned": parts_scanned,
            })

    def system_query_log(self) -> DataFrame:
        """``system.query_log`` analog: every read planned against this
        table instance — kind (point_lookup / range_scan / full_scan /
        partition_scan / col_range_scan / token_search / like_search /
        in_scan), live part count at plan time, and how many parts
        survived manifest + skip-index pruning. The observability loop
        that tells an operator which indexes are EARNING their build
        cost: scanned ≈ total on a token_search means the bloom never
        prunes. Metadata-sized (one row per query), session-local."""
        cols = [("seq", "int"), ("kind", "string"),
                ("parts_total", "int"), ("parts_scanned", "int")]
        with self._lock:
            rows = [(e["seq"], e["kind"], e["parts_total"],
                     e["parts_scanned"]) for e in self._query_log]
        from clickhouse_mergetree_spark.tables import values_df
        return values_df(self.spark, rows, cols)

    def query(self, start_key, end_key) -> DataFrame:
        """R3: inclusive key-range scan over buffer ∪ parts, (key,ts) dedup,
        (key ASC, ts ASC) order (reference src/merge_tree.cpp:37-63).

        One lazy plan: manifest-pruned parquet scan (the filter also pushes
        to row-group stats) ∪ buffer → dropDuplicates (partial+final hash
        agg) → sort. Only the dedup/sort key shuffles.
        """
        pred = F.col(self._key).between(start_key, end_key)
        return self._assemble(pred, key_range=(start_key, end_key))

    def query_key(self, key) -> DataFrame:
        """R4 (reference src/merge_tree.cpp:65-67). Point lookups prune by
        manifest min/max AND the per-part key bloom — a part whose range
        covers the key but provably lacks it is never opened."""
        return self._assemble(F.col(self._key) == key, key_range=(key, key),
                              point_key=key)

    def parts_for_key(self, key) -> list[PartMeta]:
        """The parts a point lookup of ``key`` would actually scan, after
        min/max range pruning and the bloom check (introspection/tests)."""
        with self._lock:
            return [p for p in self.manifest.prune(key, key)
                    if p.may_contain_key(key)]

    def query_all(self) -> DataFrame:
        return self._assemble(None)

    def query_col_range(self, col: str, lo, hi) -> DataFrame:
        """Range scan on a NON-KEY column using its minmax skip index:
        parts whose manifest [min, max] for ``col`` cannot intersect
        [lo, hi] are never listed or opened (the ClickHouse
        `INDEX ... TYPE minmax` read path; pruning is a pure optimization
        — the predicate is still applied to surviving rows, so parts
        without stats simply scan). Inclusive bounds."""
        return self._assemble(F.col(col).between(lo, hi),
                              col_range=(col, lo, hi))

    def parts_for_col_range(self, col: str, lo, hi) -> list[PartMeta]:
        """The parts query_col_range would scan (introspection/tests)."""
        with self._lock:
            return [p for p in self.manifest.parts
                    if p.may_match_range(col, lo, hi)]

    SAMPLE_BUCKETS = 256

    def query_sample(self, fraction: float, offset: float = 0.0) -> DataFrame:
        """``SELECT ... SAMPLE f [OFFSET o]`` analog (ClickHouse SAMPLE BY
        read path): a deterministic, value-keyed sample of the table —
        rows whose sample-key md5 bucket (256 buckets) falls in
        [offset, offset + fraction) of the bucket space. Properties
        ClickHouse guarantees and this reproduces:

        - deterministic: the same key samples identically on every run,
          engine, and cluster size (hash of the VALUE, no RNG);
        - nested: SAMPLE 0.2 ⊇ SAMPLE 0.1 (bucket prefix ordering);
        - disjoint offsets partition the table: SAMPLE 1/3 OFFSET 0,
          1/3, 2/3 are non-overlapping covers — parallel workers each
          take a slice;
        - consistent entities: sample_col is the sorting key, so ALL
          rows of a key are in or out together — per-entity aggregates
          over the sample are unbiased, the reason ClickHouse requires
          the sample key inside the primary key.

        The predicate is applied BELOW the (key, ts) dedup/sort shuffle
        (sound because a dedup group shares its key, hence its bucket),
        so at 100 TB the shuffle shrinks by the sample factor — the
        filter rides the scan stage, not a post-processing step."""
        col = self.config.sample_col
        if col is None:
            raise ValueError("no SAMPLE BY key declared "
                             "(MergeTreeConfig.sample_col)")
        if col != self._key:
            raise ValueError(
                f"sample_col {col!r} must be the sorting key "
                f"{self._key!r}: sampling only commutes with the "
                "engine's (key, ts) dedup when the whole dedup group "
                "shares the sample bucket")
        if not (0.0 <= offset and 0.0 < fraction
                and offset + fraction <= 1.0):
            raise ValueError("need 0 < fraction, 0 <= offset, "
                             "offset + fraction <= 1")
        lo = int(round(offset * self.SAMPLE_BUCKETS))
        hi = int(round((offset + fraction) * self.SAMPLE_BUCKETS))
        # bucket = first md5 byte as two lowercase hex chars: hex digits
        # are ASCII-ordered, so string comparison == numeric comparison
        # and the same expression replays on any engine with md5()
        bucket = F.substring(F.md5(F.col(col).cast("string")), 1, 2)
        pred = F.lit(True)
        if lo > 0:
            pred = bucket >= F.lit(format(lo, "02x"))
        if hi < self.SAMPLE_BUCKETS:
            pred = pred & (bucket < F.lit(format(hi, "02x")))
        return self._assemble(pred)

    def query_in(self, col: str, values) -> DataFrame:
        """Equality/IN read on a set(N)-indexed column (ClickHouse
        ``INDEX ... TYPE set(N)`` read path): parts whose stored distinct
        value set provably lacks EVERY probed value are never listed or
        opened; surviving rows still apply the exact predicate (pruning
        is pure optimization — overflowed or unindexed parts simply
        scan). At 100 TB, low-cardinality filters — status codes, event
        types, tenant tiers — touch only the parts that hold the value
        instead of every part covering the key range."""
        values = list(values)
        with self._lock:
            pruned = [p for p in self.manifest.parts
                      if p.may_match_values(col, values)]
            n_total = len(self.manifest.parts)
            buf = self._buffer_df()
        self._log_query("in_scan", n_total, len(pruned))
        pred = F.col(col).isin(values)
        sources = []
        df = self._read_parts(pruned)
        if df is not None:
            sources.append(df)
        if buf is not None:
            sources.append(buf)
        if not sources:
            return self._empty_df()
        out = sources[0]
        for s in sources[1:]:
            out = out.unionByName(s)
        return self._apply_policies(self._dedup_sort(out.filter(pred)))

    def parts_for_in(self, col: str, values) -> list[PartMeta]:
        """The parts query_in would scan (introspection/tests)."""
        values = list(values)
        with self._lock:
            return [p for p in self.manifest.parts
                    if p.may_match_values(col, values)]

    def query_token(self, col: str, token: str) -> DataFrame:
        """Token-containment read (ClickHouse ``hasToken(col, t)`` +
        tokenbf_v1 analog): parts whose token bloom provably lacks the
        token are never listed or opened; surviving rows still apply the
        exact predicate (pruning is pure optimization, FPs only scan).
        At 100 TB this turns needle-in-haystack text search — error IDs,
        SKUs, usernames — from a full scan into touching only the parts
        that can match."""
        self._drain_index_builds()  # land pending blooms so pruning engages
        tok = token.lower()
        with self._lock:
            pruned = [p for p in self.manifest.parts
                      if p.may_contain_token(col, tok)]
            n_total = len(self.manifest.parts)
            buf = self._buffer_df()
        self._log_query("token_search", n_total, len(pruned))
        pred = F.array_contains(self._token_col(col), tok)
        sources = []
        df = self._read_parts(pruned)
        if df is not None:
            sources.append(df)
        if buf is not None:
            sources.append(buf)
        if not sources:
            return self._empty_df()
        out = sources[0]
        for s in sources[1:]:
            out = out.unionByName(s)
        return self._apply_policies(self._dedup_sort(out.filter(pred)))

    def parts_for_token(self, col: str, token: str) -> list[PartMeta]:
        """The parts query_token would scan (introspection/tests)."""
        self._drain_index_builds()
        with self._lock:
            return [p for p in self.manifest.parts
                    if p.may_contain_token(col, token.lower())]

    def query_like(self, col: str, needle: str) -> DataFrame:
        """Substring-containment read (ClickHouse ``LIKE '%needle%'`` /
        ``positionCaseInsensitive(col, needle) > 0`` + ngrambf_v1 analog):
        parts whose n-gram bloom provably lacks ANY n-gram of the needle
        are never listed or opened; surviving rows still apply the exact
        predicate (pruning is pure optimization — FPs only scan, and
        needles shorter than ngram_n scan everything). Case-insensitive
        on both the index and the predicate. At 100 TB this turns
        free-text substring search — stack traces, request ids, SKUs
        embedded in payloads — from a full scan into touching only the
        parts that can match."""
        self._drain_index_builds()  # land pending blooms so pruning engages
        low = needle.lower()
        with self._lock:
            pruned = [p for p in self.manifest.parts
                      if p.may_contain_substring(col, low)]
            n_total = len(self.manifest.parts)
            buf = self._buffer_df()
        self._log_query("like_search", n_total, len(pruned))
        pred = F.instr(F.lower(F.col(col)), low) > 0
        sources = []
        df = self._read_parts(pruned)
        if df is not None:
            sources.append(df)
        if buf is not None:
            sources.append(buf)
        if not sources:
            return self._empty_df()
        out = sources[0]
        for s in sources[1:]:
            out = out.unionByName(s)
        return self._apply_policies(self._dedup_sort(out.filter(pred)))

    def parts_for_like(self, col: str, needle: str) -> list[PartMeta]:
        """The parts query_like would scan (introspection/tests)."""
        self._drain_index_builds()
        with self._lock:
            return [p for p in self.manifest.parts
                    if p.may_contain_substring(col, needle.lower())]

    # ------------------------------------------------------------ projections

    def _spec(self, name: str) -> ProjectionSpec:
        for s in self.config.projections:
            if s.name == name:
                return s
        raise KeyError(f"no projection named {name!r}")

    def query_projection(self, name: str,
                         group_by: tuple[str, ...] | None = None) -> DataFrame:
        """Read a projection at ``group_by`` (default: the spec's full
        grouping) WITHOUT touching raw rows: per-part pre-aggregated
        partials are unioned and re-aggregated — at 100 TB the scan is
        |groups|·|parts| rows instead of the table. Parts lacking the
        materialized projection (written before the spec existed on a
        reopened table) and buffered rows fall back to aggregating their
        raw rows on the fly — correctness never depends on materialization
        state, exactly ClickHouse's projection-or-raw planner contract."""
        if self.row_policies():
            # pre-aggregated partials counted every stored row; a row
            # policy makes them unservable (same reason ClickHouse
            # disables projections under row filters)
            raise ValueError(
                "row policies are active; projection reads are disabled "
                "— use query_grouped (routes to policy-filtered raw rows)")
        spec = self._spec(name)
        if spec.order_by:
            raise ValueError(
                f"{name!r} is a sort projection — it has no grouped "
                "form; it serves query_col_range reads on "
                f"{spec.order_by[0]!r} automatically")
        gb = tuple(group_by) if group_by is not None else spec.group_by
        unknown = set(gb) - set(spec.group_by)
        if unknown:
            raise ValueError(f"group_by {sorted(unknown)} not covered by "
                             f"projection {name!r} ({spec.group_by})")
        self._drain_index_builds()  # land pending partials; missing = raw
        with self._lock:
            # a part under a live lightweight-delete mask cannot serve its
            # pre-aggregated projection (the partials still count deleted
            # rows) — route it to raw-row aggregation until a rewrite
            # materializes the mask and the entry is GC'd
            masked = {pid for e in self._lw_entries() for pid in e["parts"]}
            have = [p.proj_paths[name] for p in self.manifest.parts
                    if p.proj_paths and name in p.proj_paths
                    and p.part_id not in masked]
            lack = [p for p in self.manifest.parts
                    if not (p.proj_paths and name in p.proj_paths)
                    or p.part_id in masked]
            buf = self._buffer_df()
        partials = []
        if have:
            partials.append(self.spark.read.parquet(*have))
        raw = [d for d in (self._read_parts(lack), buf) if d is not None]
        if raw:
            fresh = raw[0]
            for d in raw[1:]:
                fresh = fresh.unionByName(d)
            partials.append(self._apply_projection(fresh, spec))
        if not partials:
            # Empty table: derive the exact output schema (group_by plus
            # one TYPED field per agg output) by running the projection
            # over zero rows of the table schema — Spark's own type
            # derivation. (ADVICE r4: a hand-built StructType here omitted
            # the agg columns, so query_grouped's .select raised
            # AnalysisException on fully-empty tables.)
            partials.append(self._apply_projection(
                self.spark.createDataFrame([], self.schema), spec))
        out = partials[0]
        for d in partials[1:]:
            out = out.unionByName(d)
        return self._merge_projection_partials(out, spec, gb)

    def query_grouped(self, group_by: tuple[str, ...],
                      aggs: dict[str, tuple[str, str]]) -> DataFrame:
        """GROUP BY with projection routing (the ClickHouse
        ``optimize_use_projections`` planner analog): serve from the
        smallest covering projection — one whose grouping is a superset of
        the request and whose aggs include every requested column with the
        same definition — else aggregate the raw PHYSICAL rows. Both paths
        aggregate the same multiset — per-part projection partials are
        built from physical part rows, so the fallback reads parts+buffer
        directly rather than query_all(), whose read-time (key, ts) dedup
        would silently change counts/sums whenever duplicate rows exist
        (ADVICE r4 medium). Callers therefore never know which path ran;
        on insert-unique data (the documented ProjectionSpec assumption)
        physical and logical aggregation coincide."""
        req = set(group_by)
        best = None
        if not self.row_policies():  # policies force the raw path below
            for s in self.config.projections:
                if s.order_by:
                    continue  # sort projections have no grouped form
                if req <= set(s.group_by) and all(
                        out in s.aggs and s.aggs[out] == d
                        for out, d in aggs.items()):
                    if best is None or len(s.group_by) < len(best.group_by):
                        best = s
        if best is not None:
            return (self.query_projection(best.name, group_by)
                    .select(*group_by, *aggs))
        spec = ProjectionSpec("adhoc", tuple(group_by), dict(aggs))
        with self._lock:
            parts = list(self.manifest.parts)
            buf = self._buffer_df()
        sources = [d for d in (self._read_parts(parts), buf)
                   if d is not None]
        if not sources:
            return self._apply_projection(
                self.spark.createDataFrame([], self.schema), spec)
        raw = sources[0]
        for d in sources[1:]:
            raw = raw.unionByName(d)
        return self._apply_projection(self._apply_policies(raw), spec)

    def routed_projection(self, group_by: tuple[str, ...],
                          aggs: dict[str, tuple[str, str]]) -> str | None:
        """Which projection query_grouped would use (introspection/tests)."""
        req = set(group_by)
        covering = [s for s in self.config.projections
                    if not s.order_by
                    and req <= set(s.group_by) and all(
                        out in s.aggs and s.aggs[out] == d
                        for out, d in aggs.items())]
        if not covering:
            return None
        return min(covering, key=lambda s: len(s.group_by)).name

    def add_projection(self, spec: ProjectionSpec) -> None:
        """``ALTER TABLE ... ADD PROJECTION`` analog: register a
        pre-aggregation on a standing table as a metadata-only manifest
        commit — zero parts read. New parts (flushes, merges, rewrites)
        build the projection at write time; parts that predate the ALTER
        serve grouped reads through the raw-row fallback (correctness
        never depends on materialization state) until
        ``materialize_projection`` backfills them — ClickHouse's ADD /
        MATERIALIZE PROJECTION split. Persisted in the manifest and
        replayed on reopen."""
        if spec.aggs and self.config.mode != "dedup":
            raise ValueError(
                "aggregate projections require mode='dedup' (read-time "
                "collapse would diverge from physical-row partials)")
        if spec.order_by and (spec.group_by or spec.aggs):
            raise ValueError(
                f"projection {spec.name!r}: order_by (sort projection) "
                "and group_by/aggs (aggregate projection) are mutually "
                "exclusive")
        if any(s.name == spec.name for s in self.config.projections):
            raise ValueError(f"projection {spec.name!r} already exists")
        names = {f.name for f in self.schema.fields}
        missing = (set(spec.group_by) | set(spec.order_by)
                   | {src for _fn, src in spec.aggs.values() if src}) - names
        if missing:
            raise ValueError(f"unknown columns {sorted(missing)}")
        with self._lock:
            self.config.projections = (tuple(self.config.projections)
                                       + (spec,))
            recs = self.manifest.table_meta.setdefault("projections", [])
            recs.append({"name": spec.name,
                         "group_by": list(spec.group_by),
                         "aggs": {k: list(v) for k, v in spec.aggs.items()},
                         "order_by": list(spec.order_by)})
            self.manifest.save()

    def materialize_projection(self, name: str) -> dict:
        """``ALTER TABLE ... MATERIALIZE PROJECTION`` analog: backfill the
        named projection onto LIVE parts written before its ADD. Each
        lagging part gets one aggregate job over its own rows (exactly the
        write-path projection build); already-materialized parts are
        untouched, so re-running is idempotent and the work is bounded by
        the ALTER frontier — at 100 TB each part backfills independently.
        Returns {"parts_built", "parts_skipped"}."""
        spec = self._spec(name)
        self.flush()
        # a part with an in-flight write-path build is NOT lagging and
        # must not be rebuilt (and must not race the assignment below)
        self._drain_index_builds()
        with self._lock:
            parts = list(self.manifest.parts)

        def build(p: PartMeta) -> bool:
            """True = projection built for this part. Per-part aggregate
            jobs over disjoint inputs/outputs — run concurrently below."""
            if p.proj_paths and name in p.proj_paths:
                return False
            cols = (set(p.columns) if p.columns is not None
                    else {f.name for f in self.schema.fields})
            part_df = self.spark.read.schema(
                T.StructType([f for f in self.schema.fields
                              if f.name in cols])).parquet(p.path)
            ppath = os.path.join(self.base_path,
                                 f"part_{p.part_id}_proj_{name}")
            (self._apply_projection(part_df, spec)
             .coalesce(1).write.mode("overwrite").parquet(ppath))
            with self._lock:
                p.proj_paths = dict(p.proj_paths or {})
                p.proj_paths[name] = ppath
            return True

        from clickhouse_mergetree_spark.parallel import run_concurrently
        done = run_concurrently([(lambda part=p: build(part))
                                 for p in parts],
                                max_workers=min(8, max(1, len(parts))))
        with self._lock:
            self.manifest.save()
        return {"parts_built": sum(1 for d in done if d),
                "parts_skipped": sum(1 for d in done if not d)}

    def drop_projection(self, name: str) -> int:
        """``ALTER TABLE ... DROP PROJECTION`` analog: unregister the
        projection and reclaim its per-part files. Reads route back to
        raw rows from the same commit. Returns files removed."""
        self._spec(name)  # raises on unknown name
        # land in-flight write-path builds first: an undrained build
        # would re-create the files after the reclaim below and
        # resurrect the dropped projection in the part metadata
        self._drain_index_builds()
        removed = 0
        with self._lock:
            self.config.projections = tuple(
                s for s in self.config.projections if s.name != name)
            recs = self.manifest.table_meta.get("projections", [])
            self.manifest.table_meta["projections"] = [
                r for r in recs if r["name"] != name]
            victims = []
            for p in list(self.manifest.parts) + [
                    p for p, _v in self.manifest.tombstones.values()]:
                if p.proj_paths and name in p.proj_paths:
                    victims.append(p.proj_paths.pop(name))
            self.manifest.save()
        for v in victims:
            shutil.rmtree(v, ignore_errors=True)
            removed += 1
        return removed

    # ---------------------------------------------------------- partitions

    def _partition_col_expr(self):
        """The partitioning value as a Column: the raw ``partition_col``
        or the evaluated ``partition_expr`` (toYYYYMM-style)."""
        if self.config.partition_expr is not None:
            return F.expr(self.config.partition_expr)
        return F.col(self.config.partition_col)

    def _require_partitioning(self) -> None:
        if (self.config.partition_col is None
                and self.config.partition_expr is None):
            raise ValueError("table declares no partitioning "
                             "(partition_col / partition_expr)")

    def partitions(self) -> list[str | None]:
        """Distinct partition values with live parts, sorted."""
        with self._lock:
            return sorted({p.partition for p in self.manifest.parts},
                          key=str)

    def parts_in_partition(self, value) -> list["PartMeta"]:
        with self._lock:
            return [p for p in self.manifest.parts
                    if p.partition == str(value)]

    def query_partition(self, value) -> DataFrame:
        """Partition-scoped read: only parts tagged with ``value`` are
        listed or opened (manifest partition pruning — the ClickHouse
        PARTITION BY read path); buffered rows are filtered on the
        partition column/expression."""
        self._require_partitioning()
        pcol = self._partition_col_expr()
        return self._assemble(
            pcol.eqNullSafe(value) if value is not None
            else pcol.isNull(),
            partition=str(value))

    def drop_partition(self, value) -> int:
        """ALTER TABLE DROP PARTITION analog: remove every part of the
        partition with a manifest commit — metadata-only, zero rows read
        (buffered rows of the partition are dropped too). Returns rows
        removed. Serialized against merges like expire()."""
        self._require_partitioning()
        self._resolve_deferred()  # buffered filtering needs exact counts
        pc = self.config.partition_col
        if pc is None:
            # expression partitioning: flush first so the drop is pure
            # metadata (driver-side tuples can't evaluate the expression)
            self.flush()
        with self._merge_lock:
            with self._lock:
                victims = [p for p in self.manifest.parts
                           if p.partition == str(value)]
                removed = sum(p.row_count for p in victims)
                # buffer: drop the partition's rows in place
                if pc is not None and self._buffer_rows:
                    ix = [f.name for f in self.schema.fields].index(pc)
                    kept = [r for r in self._buffer_rows
                            if str(r[ix]) != str(value)]
                    removed += len(self._buffer_rows) - len(kept)
                    self._buffer_count -= (len(self._buffer_rows)
                                           - len(kept))
                    self._buffer_rows = kept
                if pc is not None and self._buffer_dfs:
                    filtered = []
                    for d, n in self._buffer_dfs:
                        uncounted = n is None
                        if uncounted:
                            # deferred block slipped in between the
                            # pre-lock resolve pass and this lock: count
                            # it here; it never contributed to
                            # _buffer_count, so only the kept remainder
                            # is added back below
                            n = d.count()
                        fd = d.filter(~F.col(pc).eqNullSafe(value))
                        fn = fd.count()
                        removed += n - fn
                        if uncounted:
                            self._buffer_count += fn
                        else:
                            self._buffer_count -= n - fn
                        if fn:
                            filtered.append((fd, fn))
                    self._buffer_dfs = filtered
                retain = self.config.snapshot_retention > 0
                if victims:
                    self.manifest.remove([p.part_id for p in victims],
                                         retain=retain)
                    self.manifest.save()
            if victims and not retain:
                for p in victims:
                    self._delete_part_dirs(p)
            return removed

    def truncate(self) -> int:
        """``TRUNCATE TABLE`` analog: drop every live part and buffered
        row in ONE manifest commit — metadata-only, zero rows read, O(1)
        data work at any table size. Detached parts and FREEZE backups
        survive (ClickHouse semantics: truncate clears the live data;
        ``detached/`` and ``shadow/`` are untouched — restore/attach
        still work afterwards). Satisfied lightweight-delete masks are
        garbage-collected with their parts; the mutation ledger is
        history and is kept. Returns rows removed."""
        self._resolve_deferred()  # the removed-rows total needs exact counts
        with self._merge_lock:
            with self._lock:
                victims = list(self.manifest.parts)
                removed = sum(p.row_count for p in victims)
                removed += self._buffer_count
                # deferred blocks that slipped past the pre-lock resolve
                # pass: count them so the removed total stays exact
                removed += sum(d.count() for d, n in self._buffer_dfs
                               if n is None)
                self._buffer_rows = []
                self._buffer_dfs = []
                self._buffer_count = 0
                retain = self.config.snapshot_retention > 0
                if victims:
                    self.manifest.remove([p.part_id for p in victims],
                                         retain=retain)
                self._gc_lw_deletes()
                self.manifest.save()
            if victims and not retain:
                for p in victims:
                    self._delete_part_dirs(p)
            return removed

    def detach_partition(self, value) -> int:
        """ALTER TABLE DETACH PARTITION analog: take the partition's parts
        out of the live set WITHOUT deleting data. Each part directory is
        renamed ``part_<id>`` → ``detached_part_<id>`` (the ClickHouse
        ``detached/`` analog — manifest-less recovery scans only
        ``part_<int>`` dirs, so a detached part cannot be resurrected by
        a crash-recovery rescan) and its metadata is parked in
        ``table_meta["detached"]``; ``attach_partition`` reverses both.
        Buffered rows of the partition are flushed into parts first so
        the detach is exact. Returns rows detached. Metadata + rename
        only — zero rows read at any table size."""
        self._require_partitioning()
        from dataclasses import asdict
        self.flush()
        # parked metadata snapshots must carry complete index claims,
        # and a pending build must not race the dir rename below
        self._drain_index_builds()
        with self._merge_lock:
            with self._lock:
                victims = [p for p in self.manifest.parts
                           if p.partition == str(value)]
                if not victims:
                    return 0
                parked = self.manifest.table_meta.setdefault("detached", [])
                for p in victims:
                    new_path = os.path.join(
                        os.path.dirname(p.path),
                        "detached_" + os.path.basename(p.path))
                    os.rename(p.path, new_path)
                    p.path = new_path
                    parked.append(asdict(p))
                self.manifest.remove([p.part_id for p in victims])
                self.manifest.save()
                return sum(p.row_count for p in victims)

    def attach_partition(self, value) -> int:
        """ALTER TABLE ATTACH PARTITION analog: restore a previously
        detached partition — rename the part dirs back and re-commit
        their metadata into the live set. Part ids are never reallocated
        (the id counter only grows), so re-attachment cannot collide.
        Returns rows attached."""
        self._require_partitioning()
        with self._merge_lock:
            with self._lock:
                parked = self.manifest.table_meta.get("detached", [])
                take = [d for d in parked if d.get("partition") == str(value)]
                if not take:
                    return 0
                keep = [d for d in parked if d.get("partition") != str(value)]
                rows = 0
                for doc in take:
                    base = os.path.basename(doc["path"])
                    if base.startswith("detached_"):
                        new_path = os.path.join(
                            os.path.dirname(doc["path"]),
                            base[len("detached_"):])
                        os.rename(doc["path"], new_path)
                        doc["path"] = new_path
                    self.manifest.append(PartMeta(**doc))
                    rows += doc["row_count"]
                self.manifest.table_meta["detached"] = keep
                self.manifest.save()
                return rows

    def attach_partition_from(self, src: "SparkMergeTree", value,
                              replace: bool = False) -> int:
        """``ALTER TABLE dst ATTACH PARTITION ... FROM src`` analog (with
        ``replace=True``, ``REPLACE PARTITION ... FROM`` — ClickHouse's
        backfill/reshard primitive): copy the source partition's live
        parts into this table as new parts, WITHOUT reading a row — part
        files are HARDLINKED (immutable parts make links safe, the same
        argument as FREEZE) and each copy gets a fresh part id from this
        table's counter. The source table is untouched (ClickHouse
        semantics: FROM copies; MOVE is the destructive variant).

        Like ClickHouse, both tables must have identical structure: same
        schema (names + types in order), same sorting key, same engine
        mode, same partition column. The source partition must also be
        physically CLEAN — no pending rename/TTL/MODIFY transform and no
        live lightweight-delete mask on its parts — because those
        transforms live in the SOURCE's table metadata, which does not
        travel with the files; ``src.optimize()`` first materializes
        them. Per-part skipping indexes (key bloom, minmax, token/ngram
        blooms, value sets) describe the immutable bytes, so they travel
        with the part verbatim; projection partials are table-scoped and
        are rebuilt lazily at the next rewrite.

        With ``replace=True`` the destination partition is dropped first
        (two manifest commits; a concurrent reader between them sees the
        partition briefly absent, never doubled). Returns
        rows attached. O(files) metadata + link work at any table size —
        the 100 TB backfill path (stage into a scratch table, validate,
        swap) never rewrites data."""
        if src is self:
            # self-attach would double rows; self-REPLACE would drop the
            # partition and then link from the just-deleted part dirs
            raise ValueError("source and destination are the same table")
        self._require_partitioning()
        if (src.config.partition_col != self.config.partition_col
                or src.config.partition_expr != self.config.partition_expr):
            raise ValueError("partitioning mismatch")
        if (src.config.key_col, src.config.ts_col, src.config.mode) != (
                self.config.key_col, self.config.ts_col, self.config.mode):
            raise ValueError("sorting key / engine mode mismatch")
        if [(f.name, f.dataType) for f in src.schema.fields] != \
                [(f.name, f.dataType) for f in self.schema.fields]:
            raise ValueError("schema mismatch")
        src.flush()
        # copied metadata snapshots travel verbatim (docstring): land the
        # source's pending index builds so the claims come along
        src._drain_index_builds()
        with src._lock:
            take = [p for p in src.manifest.parts
                    if p.partition == str(value)]
            dirty = {p.part_id for p in
                     src._parts_with_pending_transforms(include_masks=True)}
        if any(p.part_id in dirty for p in take):
            raise ValueError(
                "source partition has pending ALTER/TTL/delete transforms; "
                "run src.optimize() first")
        from dataclasses import asdict
        if replace:
            # REPLACE = drop-then-attach; drop_partition serializes on the
            # merge lock itself, so it runs before we take it here
            self.drop_partition(value)
        with self._merge_lock:
            with self._lock:
                rows = 0
                for p in take:
                    new_id = self.manifest.allocate_part_id()
                    new_path = os.path.join(self.base_path, f"part_{new_id}")
                    os.makedirs(new_path)
                    for fn in os.listdir(p.path):
                        s = os.path.join(p.path, fn)
                        if not os.path.isfile(s):
                            continue
                        try:
                            os.link(s, os.path.join(new_path, fn))
                        except OSError:
                            shutil.copy2(s, os.path.join(new_path, fn))
                    doc = asdict(p)
                    doc["part_id"] = new_id
                    doc["path"] = new_path
                    doc["proj_paths"] = None  # rebuilt at next rewrite
                    meta = PartMeta(**doc)
                    self.manifest.append(meta)
                    rows += meta.row_count
                self.manifest.save()
        return rows

    def move_partition_to(self, dst: "SparkMergeTree", value) -> int:
        """``ALTER TABLE src MOVE PARTITION ... TO TABLE dst`` analog —
        the destructive sibling of ``attach_partition_from``: the
        partition's parts land in ``dst`` (hardlinked, zero rows read,
        same structure checks) and are then dropped from this table.
        ClickHouse's resharding/tiering primitive: at 100 TB a partition
        moves between tables as O(files) metadata + link work.

        Ordering makes a crash safe, not atomic: attach commits first,
        so a crash between the two manifest commits leaves the partition
        visible in BOTH tables (re-run the drop) — never lost. Returns
        rows moved."""
        rows = dst.attach_partition_from(self, value)
        self.drop_partition(value)
        return rows

    def freeze_partition(self, value=None, backup_name: str | None = None
                         ) -> dict:
        """``ALTER TABLE FREEZE [PARTITION]`` analog: an instant,
        space-free backup of the partition's (or, with ``value=None``,
        the whole table's) live parts into
        ``<base>/shadow/<backup_name>/`` — part files are HARDLINKED, not
        copied (immutable parts make links safe; merges create NEW dirs,
        so a later merge/drop cannot mutate the frozen bytes), plus one
        JSON snapshot of the frozen parts' metadata for restore. O(files)
        metadata work at any table size, zero rows read — exactly
        ClickHouse's FREEZE contract.

        The backup captures PHYSICAL state: unmaterialized lightweight-
        delete masks, pending ALTER casts/defaults, and expiry marks are
        per-table metadata and do NOT travel with the frozen files — run
        ``materialize_deletes()`` / ``optimize(final=True)`` first for a
        logically-final backup (ClickHouse FREEZE has the same property).
        Falls back to copy if the filesystem refuses cross-device links.

        Returns {"backup", "parts_frozen", "files"}."""
        from dataclasses import asdict
        self.flush()
        self._drain_index_builds()  # frozen metadata carries full claims
        with self._merge_lock:
            with self._lock:
                parts = [p for p in self.manifest.parts
                         if value is None or p.partition == str(value)]
                name = backup_name or f"backup_v{self.manifest.version}"
                shadow = os.path.join(self.base_path, "shadow", name)
                if os.path.exists(shadow):
                    raise ValueError(f"backup {name!r} already exists")
                os.makedirs(shadow)
                n_files = 0
                for p in parts:
                    dst = os.path.join(shadow, os.path.basename(p.path))
                    os.makedirs(dst)
                    for fn in os.listdir(p.path):
                        src = os.path.join(p.path, fn)
                        if not os.path.isfile(src):
                            continue
                        try:
                            os.link(src, os.path.join(dst, fn))
                        except OSError:
                            shutil.copy2(src, os.path.join(dst, fn))
                        n_files += 1
                with open(os.path.join(shadow, "frozen_manifest.json"),
                          "w") as f:
                    json.dump({"parts": [asdict(p) for p in parts],
                               "partition": value,
                               "version": self.manifest.version},
                              f, indent=1, default=str)
        return {"backup": name, "parts_frozen": len(parts),
                "files": n_files}

    def list_frozen(self) -> list[str]:
        """Names of existing FREEZE backups (shadow/ directory listing)."""
        shadow = os.path.join(self.base_path, "shadow")
        if not os.path.isdir(shadow):
            return []
        return sorted(d for d in os.listdir(shadow)
                      if os.path.isdir(os.path.join(shadow, d)))

    def unfreeze(self, backup_name: str) -> None:
        """Delete a FREEZE backup (``SYSTEM UNFREEZE`` analog). Hardlinked
        blocks are reclaimed only when the last link drops — removing a
        backup never touches live parts."""
        shadow = os.path.join(self.base_path, "shadow", backup_name)
        if not os.path.isdir(shadow):
            raise ValueError(f"no backup {backup_name!r}")
        shutil.rmtree(shadow)

    def restore_frozen(self, backup_name: str) -> dict:
        """Restore a FREEZE backup: each frozen part re-enters the live
        set under a FRESH part id (the id counter only grows, so restored
        parts can coexist with whatever replaced them) with its files
        hardlinked back out of the shadow dir. ADDITIVE, like ClickHouse's
        manual cp-into-detached + ATTACH restore flow: restoring rows that
        still exist duplicates them — drop/detach the partition first for
        a replace-style restore. Returns {"parts_restored", "rows"}."""
        shadow = os.path.join(self.base_path, "shadow", backup_name)
        mf = os.path.join(shadow, "frozen_manifest.json")
        if not os.path.isfile(mf):
            raise ValueError(f"no backup {backup_name!r}")
        with open(mf) as f:
            doc = json.load(f)
        with self._merge_lock:
            with self._lock:
                rows = 0
                for pd in doc["parts"]:
                    frozen_dir = os.path.join(
                        shadow, os.path.basename(pd["path"]))
                    new_id = self.manifest.allocate_part_id()
                    new_path = os.path.join(self.base_path,
                                            f"part_{new_id}")
                    os.makedirs(new_path)
                    for fn in os.listdir(frozen_dir):
                        src = os.path.join(frozen_dir, fn)
                        if not os.path.isfile(src):
                            continue
                        try:
                            os.link(src, os.path.join(new_path, fn))
                        except OSError:
                            shutil.copy2(src, os.path.join(new_path, fn))
                    meta = PartMeta(**pd)
                    meta.part_id = new_id
                    meta.path = new_path
                    meta.proj_paths = None  # rebuilt at next rewrite
                    self.manifest.append(meta)
                    rows += meta.row_count
                self.manifest.save()
        return {"parts_restored": len(doc["parts"]), "rows": rows}

    def _lw_entries(self, lw_version: int | None = None) -> list[dict]:
        """Live lightweight-delete entries, optionally restricted to those
        committed at or before manifest version ``lw_version`` (time
        travel: a snapshot read must not see later deletes). KILLed
        entries are excluded from current reads but still apply to
        snapshot versions in [delete, kill) — the kill is itself a
        versioned commit, not a rewrite of history."""
        entries = self.manifest.table_meta.get("lw_deletes", [])
        if lw_version is None:
            return [e for e in entries if "killed_at_version" not in e]
        return [e for e in entries
                if e["version"] <= lw_version
                < e.get("killed_at_version", float("inf"))]

    def _read_parts(self, parts: list[PartMeta],
                    lw_version: int | None = None,
                    part_id_col: str | None = None) -> DataFrame | None:
        """Raw physical read of a part set at the CURRENT table schema.

        Schema evolution makes parts heterogeneous: a part written before an
        ALTER ADD COLUMN physically lacks that column. Group parts by which
        added columns they're missing (almost always 1–2 groups), read each
        group once, fill the missing columns with their declared defaults
        (ClickHouse's lazy-default contract — old parts are never rewritten
        by an ALTER), and union. With no evolution this is exactly one
        multi-path parquet scan — zero overhead.

        Lightweight-delete masks are applied here, per part: an entry's
        NOT(pred) filter attaches only to the parts live when the DELETE
        committed (rows inserted later stay visible even if they match).
        Grouping by applicable-entry set keeps it one scan per (schema,
        mask) combination, and because merges/mutations/TTL rewrites all
        read through this method, every rewrite MATERIALIZES the masks —
        the rewritten part is physically clean and belongs to no entry.

        Column-TTL expiry marks (PartMeta.expired_cols) are applied here
        too: an expired column is served as its declared default (the ADD
        COLUMN default, else NULL) instead of the physical bytes — and for
        the same read-through reason, every rewrite materializes the
        expiry, so the rewritten part carries no mark.

        RENAME COLUMN is resolved here as well: a part written before a
        rename physically stores the OLD name, so each logical column maps
        to its per-part physical name via the rename chain (metadata-only
        rename, lazy physical rename at the next rewrite — same contract
        as ADD/DROP). With no renames the chain lookup is skipped
        entirely.

        ``part_id_col`` adds a column of that name holding each row's
        part id, parsed from the hidden ``_metadata.file_path`` — the
        ``part_<id>`` directory that holds the file."""
        if not parts:
            return None
        added = self.manifest.table_meta.get("added_columns", [])
        lw = self._lw_entries(lw_version)
        full_cols = [f.name for f in self.schema.fields]
        added_names = {a["name"] for a in added}
        defaults = {a["name"]: a for a in added}
        original = [c for c in full_cols if c not in added_names]
        chains = (self._rename_chains()
                  if self.manifest.table_meta.get("renamed_columns") else {})
        groups: dict[tuple, list[PartMeta]] = {}
        for p in parts:
            present = set(p.columns) if p.columns is not None else set(original)
            missing = []
            phys = []
            casts = []
            for c in full_cols:
                pn = next((cand for cand in chains.get(c, (c,))
                           if cand in present), None)
                if pn is None:
                    missing.append(c)
                    continue
                if pn != c:
                    phys.append((c, pn))
                if p.cast_cols and pn in p.cast_cols:
                    # MODIFY COLUMN: this part physically stores the old
                    # type; read at it, cast to the declared type below
                    casts.append((c, p.cast_cols[pn]))
            masks = tuple(e["id"] for e in lw if p.part_id in e["parts"])
            expired = tuple(sorted(
                set(p.expired_cols or ()) & set(full_cols)))
            groups.setdefault(
                (tuple(missing), masks, expired, tuple(phys),
                 tuple(sorted(casts))), []).append(p)
        preds = {e["id"]: e["pred"] for e in lw}
        dfs = []
        for (missing, masks, expired, phys, casts), ps in groups.items():
            phys_map = dict(phys)  # logical -> physical name in these parts
            cast_types = {
                logical: T.StructType.fromDDL(f"`x` {ddl}")[0].dataType
                for logical, ddl in casts}
            sub = T.StructType([
                T.StructField(phys_map.get(f.name, f.name),
                              cast_types.get(f.name, f.dataType), f.nullable)
                for f in self.schema.fields if f.name not in missing])
            df = self.spark.read.schema(sub).parquet(*[p.path for p in ps])
            if part_id_col is not None:
                df = df.withColumn(part_id_col, F.regexp_extract(
                    F.col("_metadata.file_path"), r"part_(\d+)/[^/]*$", 1)
                    .cast("long"))
            for logical, physical in phys:
                df = df.withColumnRenamed(physical, logical)
            for logical, _ddl in casts:
                df = df.withColumn(
                    logical,
                    F.col(logical).cast(self.schema[logical].dataType))
            for a in added:
                if a["name"] in missing:
                    df = df.withColumn(a["name"], self._default_col(a))
            for mid in masks:
                # SQL DELETE WHERE semantics: NULL predicate ⇒ row kept.
                # Masks filter BEFORE expired-column substitution: a live
                # DELETE predicate referencing a later-expired column must
                # evaluate against the physical bytes it matched at delete
                # time, not the substituted default (which would resurrect
                # the rows it deleted).
                df = df.filter(
                    ~F.coalesce(F.expr(preds[mid]), F.lit(False)))
            for c in expired:
                df = df.withColumn(
                    c, self._default_col(defaults.get(c))
                    .cast(self.schema[c].dataType))
            dfs.append(df.select(
                full_cols + ([part_id_col] if part_id_col else [])))
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _assemble(self, pred, key_range=None, point_key=None,
                  partition=None, col_range=None) -> DataFrame:
        if self.config.projections:
            # land pending write-path projection builds so sort-projection
            # routing sees them (a pending part would merely fall back to
            # its raw rows — same result, but the routed plan is the
            # tested/plan-gated shape)
            self._drain_index_builds()
        proj_paths: list[str] = []
        with self._lock:
            if key_range is None:
                pruned = list(self.manifest.parts)
            else:
                # R8: manifest min/max pruning — skipped parts are never
                # listed, opened, or scheduled (reference src/part.cpp:201-203)
                pruned = self.manifest.prune(*key_range)
            if col_range is not None:
                # minmax skip index on a non-key column
                c, lo, hi = col_range
                pruned = [p for p in pruned if p.may_match_range(c, lo, hi)]
                # sort-projection routing (ClickHouse's secondary-index
                # planner): a part whose physical layout matches the
                # current schema and carries a sort projection led by the
                # queried column serves from its RE-SORTED copy — the
                # filter pushes into monotone row-group stats, pruning
                # inside the part, which the primary sort order cannot.
                # Parts lagging the schema or under a live delete mask
                # fall back to the evolved/masked primary read path;
                # correctness never depends on materialization state.
                sspec = next(
                    (s for s in self.config.projections
                     if s.order_by and s.order_by[0] == c), None)
                if sspec is not None:
                    dirty = {p.part_id for p in
                             self._parts_with_pending_transforms(
                                 include_masks=True)}
                    served = [p for p in pruned
                              if p.proj_paths
                              and sspec.name in p.proj_paths
                              and p.part_id not in dirty]
                    proj_paths = [p.proj_paths[sspec.name] for p in served]
                    served_ids = {p.part_id for p in served}
                    pruned = [p for p in pruned
                              if p.part_id not in served_ids]
            if point_key is not None:
                # bloom skipping index: drop range-covering parts that
                # provably lack the key (no false negatives by construction)
                pruned = [p for p in pruned if p.may_contain_key(point_key)]
            if partition is not None:
                # partition pruning: a part's rows all share its partition
                # value, so non-matching parts are skipped entirely
                pruned = [p for p in pruned if p.partition == partition]
            n_total = len(self.manifest.parts)
            buf = self._buffer_df()
            # rows proven by the manifest and the buffer; unknown with
            # projection-served parts or uncounted defer_count blocks
            n_rows = self._known_rows(pruned)
            if (proj_paths or n_rows is None
                    or any(n is None for _, n in self._buffer_dfs)):
                n_rows = None
            else:
                n_rows += self._buffer_count
        self._log_query(
            "point_lookup" if point_key is not None else
            "partition_scan" if partition is not None else
            "col_range_scan" if col_range is not None else
            "range_scan" if key_range is not None else "full_scan",
            n_total, len(pruned) + len(proj_paths))
        sources = []
        if proj_paths:
            sources.append(self.spark.read.schema(self.schema)
                           .parquet(*proj_paths))
        df = self._read_parts(pruned)
        if df is not None:
            sources.append(df)
        if buf is not None:
            sources.append(buf)
        if not sources:
            return self._empty_df()
        out = sources[0]
        for s in sources[1:]:
            out = out.unionByName(s)
        if pred is not None:
            out = out.filter(pred)
        return self._apply_policies(
            self._dedup_sort(self._single_task(out, n_rows)))

    def _sum_cols(self, cols: list[str]) -> list[str]:
        """Summing mode's measure columns, in schema order."""
        numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                   T.FloatType, T.DoubleType, T.DecimalType)
        return [
            f.name for f in self.schema.fields
            if f.name in cols and f.name not in (self._key, self._ts)
            and (f.name in self.config.sum_cols
                 if self.config.sum_cols is not None
                 else isinstance(f.dataType, numeric))
        ]

    def _collapse(self, out: DataFrame) -> DataFrame:
        """Collapse rows sharing the (key, ts) sorting key per the table
        mode — the one primitive shared by merges (physical collapse) and
        reads (finalization over possibly-partial parts). Collapsing
        mode keeps net ≤ 0 groups here (their sign must keep cancelling
        future merges); the read path drops them in _dedup_sort."""
        if self.config.mode == "collapsing":
            sc = self.config.sign_col
            types = {f.name: f.dataType for f in self.schema.fields}
            aggs = [
                # net sign is the associative cancellation state; value
                # columns survive from live (net/sign > 0) rows only —
                # min-over-positive is itself associative because a
                # collapsed group re-exposes its values iff its net is
                # positive
                F.sum(sc).cast(types[sc]).alias(sc) if c == sc
                else F.min(F.when(F.col(sc) > 0, F.col(c))).alias(c)
                for c in out.columns if c not in (self._key, self._ts)
            ]
            return out.groupBy(self._key, self._ts).agg(*aggs) \
                .select(out.columns)
        if self.config.mode == "versioned_collapsing":
            # same net-sign cancellation state as collapsing, but grouped
            # by (key, ts, version): a -1 row only ever cancels the +1
            # row carrying the SAME version, which is what makes the
            # collapse insensitive to insert/merge order (the whole point
            # of VersionedCollapsingMergeTree — plain collapsing's
            # "cancel the adjacent row" contract breaks on out-of-order
            # streams). Associative: net signs per version sum.
            sc = self.config.sign_col
            vc = self.config.version_col
            types = {f.name: f.dataType for f in self.schema.fields}
            aggs = [
                F.sum(sc).cast(types[sc]).alias(sc) if c == sc
                else F.min(F.when(F.col(sc) > 0, F.col(c))).alias(c)
                for c in out.columns
                if c not in (self._key, self._ts, vc)
            ]
            return out.groupBy(self._key, self._ts, vc).agg(*aggs) \
                .select(out.columns)
        if self.config.mode == "replacing":
            vc = self.config.version_col
            others = [c for c in out.columns
                      if c not in (self._key, self._ts, vc)]
            # lexicographic max over (version, rest): picks the
            # max-version row, breaks version ties deterministically on
            # the remaining columns, and — being a plain MAX — is
            # associative across any merge schedule, so partial parts
            # and read-time finalization agree. Tombstones (deleted_col
            # nonzero) survive the collapse so a replayed lower-version
            # insert cannot resurrect a deleted key; reads filter them
            # in _dedup_sort.
            packed = out.groupBy(self._key, self._ts).agg(
                F.max(F.struct(vc, *others)).alias("_r"))
            return packed.select(
                self._key, self._ts,
                *[F.col(f"_r.{c}").alias(c) for c in (vc, *others)],
            ).select(out.columns)
        if self.config.mode == "summing":
            scols = self._sum_cols(out.columns)
            types = {f.name: f.dataType for f in self.schema.fields}
            aggs = [
                # cast the widened sum back to the declared column type so
                # merged parts keep the table schema (decimal sums widen
                # precision; the declared type is the overflow contract)
                F.sum(c).cast(types[c]).alias(c) if c in scols
                else F.min(c).alias(c)
                for c in out.columns if c not in (self._key, self._ts)
            ]
            return out.groupBy(self._key, self._ts).agg(*aggs) \
                .select(out.columns)
        if self.config.mode == "aggregating":
            spec = self.config.agg_cols or {}
            bad = {fn for fn in spec.values() if fn not in ("sum", "min", "max")}
            if bad:
                raise ValueError(f"unsupported agg_cols fn(s) {sorted(bad)}")
            types = {f.name: f.dataType for f in self.schema.fields}
            aggs = [
                getattr(F, spec.get(c, "min"))(c).cast(types[c]).alias(c)
                for c in out.columns if c not in (self._key, self._ts)
            ]
            return out.groupBy(self._key, self._ts).agg(*aggs) \
                .select(out.columns)
        return out.dropDuplicates([self._key, self._ts])

    def _dedup_sort(self, out: DataFrame) -> DataFrame:
        other_cols = [c for c in out.columns if c not in (self._key, self._ts)]
        collapsed = self._collapse(out)
        if self.config.mode in ("collapsing", "versioned_collapsing"):
            # read finalization (the FINAL keyword analog): cancelled and
            # never-inserted groups are invisible
            collapsed = collapsed.filter(F.col(self.config.sign_col) > 0)
        if self.config.mode == "replacing" and self.config.deleted_col:
            # FINAL + is_deleted: the surviving max-version row is
            # invisible when flagged (null = live, matching ClickHouse's
            # default-0 UInt8 flag)
            dc = self.config.deleted_col
            collapsed = collapsed.filter(
                F.col(dc).isNull() | (F.col(dc) == 0))
        return collapsed.orderBy(self._key, self._ts, *other_cols)

    # ------------------------------------------------------------- snapshots

    def current_version(self) -> int:
        with self._lock:
            return self.manifest.version

    def query_at_version(self, version: int) -> DataFrame:
        """Snapshot read (time travel, Delta/Iceberg-style — extension, no
        reference analog): the table as of manifest ``version``, i.e. the
        part set that commit logged — buffered (never-flushed) rows are not
        part of any version. Requires ``snapshot_retention`` > 0 on the
        config that performed the removals; raises KeyError for versions
        that left the log or whose parts were vacuumed."""
        with self._lock:
            parts = self.manifest.parts_at_version(version)
        if not parts:
            return self._empty_df()
        # lw_version: only lightweight deletes committed at or before this
        # snapshot apply — later DELETEs must not leak into an older view
        return self._apply_policies(
            self._dedup_sort(self._read_parts(parts, lw_version=version)))

    def vacuum(self) -> int:
        """Physically delete tombstoned parts no longer covered by the
        retention window. Returns the number of parts reclaimed."""
        with self._lock:
            cutoff = self.manifest.version - self.config.snapshot_retention
            victims = self.manifest.vacuum_tombstones(cutoff)
            if victims:
                self.manifest.save()
        if victims:
            with self._lock:
                self._gc_lw_deletes()
                self.manifest.save()
        for p in victims:
            self._delete_part_dirs(p)
        return len(victims)

    # ------------------------------------------------------------ compaction

    def comment_column(self, name: str, comment: str | None) -> None:
        """``ALTER TABLE ... COMMENT COLUMN`` analog: attach (or, with
        ``None``, clear) a human-readable comment to a column — pure
        metadata, persisted in the manifest, surfaced by
        ``system_columns()``. Comments follow renames and die with
        DROP COLUMN, like ClickHouse's."""
        if not any(f.name == name for f in self.schema.fields):
            raise ValueError(f"unknown column {name!r}")
        with self._lock:
            cm = self.manifest.table_meta.setdefault("column_comments", {})
            if comment is None:
                cm.pop(name, None)
            else:
                cm[name] = str(comment)
            self.manifest.save()

    # Settings an operator may retune on a standing table. Structural
    # knobs (key/ts/mode/partitioning/index/projection declarations) are
    # deliberately absent — they define part layout and have their own
    # ALTER verbs.
    MODIFIABLE_SETTINGS = {
        "max_parts": int,
        "memtable_flush_threshold": int,
        "max_parts_to_throw": lambda v: None if v is None else int(v),
        "snapshot_retention": int,
        "merge_interval_seconds": float,
        "part_compression": str,
    }

    def modify_setting(self, name: str, value) -> None:
        """``ALTER TABLE ... MODIFY SETTING`` analog: retune a runtime
        table setting as a manifest commit — persisted, replayed on
        reopen (overrides beat the constructor config), effective from
        the next operation that reads it (flush thresholds, merge
        scheduling, insert back-pressure, part codec). Structural
        settings are refused; they have their own ALTER verbs."""
        caster = self.MODIFIABLE_SETTINGS.get(name)
        if caster is None:
            raise ValueError(
                f"setting {name!r} is not modifiable "
                f"(allowed: {sorted(self.MODIFIABLE_SETTINGS)})")
        value = caster(value)
        with self._lock:
            setattr(self.config, name, value)
            self.manifest.table_meta.setdefault(
                "settings_overrides", {})[name] = value
            self.manifest.save()

    def stop_merges(self) -> None:
        """``SYSTEM STOP MERGES`` analog: suspend every merge path —
        insert-triggered, background-thread, and merge_parts_sync all
        check this flag — while inserts, flushes, and reads continue
        normally (parts simply accumulate). The standard runbook guard
        before bulk loads, schema surgery, or debugging a bad merge.
        Explicit ``optimize()`` refuses rather than silently no-oping
        (ClickHouse's OPTIMIZE blocks forever under stopped merges; an
        error is the non-interactive equivalent). In-memory only, like
        ClickHouse — a restart clears it."""
        self._merges_stopped = True

    def start_merges(self) -> None:
        """``SYSTEM START MERGES`` analog: lift stop_merges(). The next
        insert/flush re-evaluates the trigger, so a backlog accumulated
        while stopped compacts on the normal schedule."""
        self._merges_stopped = False

    def should_trigger_merge(self) -> bool:
        """R30 (reference src/merge_tree.cpp:240-243)."""
        if self._merges_stopped:
            return False
        with self._lock:
            return len(self.manifest.parts) > self.config.max_parts

    def merge_parts_sync(self) -> bool:
        """R32: one synchronous merge round if triggered
        (reference src/merge_tree.cpp:93-97). Returns True if a merge ran."""
        if self.should_trigger_merge():
            return self.perform_merge()
        return False

    def perform_merge(self) -> bool:
        """R27+R33: best-scored candidate → read-dedup-sort-write → atomic
        manifest swap → delete old part dirs (reference
        src/merge_tree.cpp:245-288 — minus its disk leak).

        A small merge runs as one shuffle-free task (_single_task);
        larger ones use Spark's sort-shuffle-with-spill in place of the
        reference's k-way heap (src/merger.cpp:7-59), which materialized
        everything anyway.
        """
        if self._merges_stopped:
            return False
        with self._merge_lock:
            with self._lock:
                # merges never cross partitions (ClickHouse MergeTree
                # contract): enumerate candidates within each partition
                # group and pick the best score overall
                groups: dict[str | None, list] = {}
                for p in self.manifest.parts:
                    groups.setdefault(p.partition, []).append(p)
                candidates = sorted(
                    (c for g in groups.values()
                     for c in select_merge_candidates(g)),
                    key=lambda c: -c.score)
                if not candidates:
                    return False
                best = candidates[0]
                selected = [p for p in self.manifest.parts
                            if p.part_id in best.part_ids]
            self._merge_group(selected)
            return True

    def _merge_group(self, selected: list[PartMeta]) -> None:
        """One merge job over an explicit part group: read (through the
        masked/evolved read path, so lightweight-delete masks and ALTER
        defaults materialize) → mode collapse → sorted part write →
        atomic manifest swap → reclaim. Caller holds _merge_lock."""
        self._merge_groups([selected])

    def _merge_groups(self, groups: list[list[PartMeta]],
                      transform=None) -> list[PartMeta]:
        """N independent merge jobs over DISJOINT part groups (FINAL's
        per-partition merges, pending-transform rewrites, dedup passes).

        Merged part ids are allocated upfront in group order and the
        commits (atomic swap → lw-delete GC → save → reclaim) run
        sequentially in that same order, so part ids and the manifest's
        version history are bit-identical to merging the groups one at a
        time — only the expensive read→collapse→write jobs overlap
        (wall-clock ~max(job) instead of sum). A failure in ANY write
        deletes every completed new part dir and commits nothing.
        ``transform`` (optional) maps the collapsed frame before the
        write — OPTIMIZE ... DEDUPLICATE's extra dedup step.
        Caller holds _merge_lock."""
        if not groups:
            return []
        with self._lock:
            ids = [self.manifest.allocate_part_id() for _ in groups]

        def write_one(pid: int, group: list[PartMeta]) -> PartMeta:
            # _read_parts materializes evolved-column defaults into the
            # merged part (ClickHouse materializes ALTER defaults on
            # merge)
            merged = self._collapse(self._single_task(
                self._read_parts(group), self._known_rows(group)))
            if transform is not None:
                merged = transform(merged)
            return self._write_part(pid, merged,
                                    sum(p.row_count for p in group),
                                    partition=group[0].partition)

        metas = self._run_part_writes(
            [(lambda pid=pid, g=g: write_one(pid, g))
             for pid, g in zip(ids, groups)])
        retain = self.config.snapshot_retention > 0
        attempted = 0
        try:
            for group, meta in zip(groups, metas):
                attempted += 1
                with self._lock:
                    self._swap_or_remove([p.part_id for p in group], meta,
                                         retain=retain)
                    # the merged part materialized any lightweight-delete
                    # masks (read path applied them); reclaim satisfied
                    # entries
                    self._gc_lw_deletes()
                    self.manifest.save()
                if retain:
                    # snapshots keep the old parts readable; vacuum
                    # reclaims what just fell out of the retention window
                    self.vacuum()
                else:
                    # commit point passed — old parts unreachable
                    for p in group:
                        self._delete_part_dirs(p)
        except BaseException:
            # a commit failed mid-batch: parts whose commit was never
            # ATTEMPTED are invisible to every reclaim path — delete
            # their dirs before re-raising (the attempted-but-failed one
            # is left alone: its in-memory manifest state is ambiguous,
            # exactly the sequential loop's worst case)
            for m in metas[attempted:]:
                self._delete_part_dirs(m)
            raise
        return metas

    def _swap_or_remove(self, old_part_ids: list[int], meta: PartMeta,
                        retain: bool) -> None:
        """Commit a part rewrite — unless the rewrite produced ZERO rows
        (every row masked / cancelled / expired), in which case the old
        parts are removed WITHOUT appending the empty part: a 0-row part
        has no stats (None min/max) and would poison range pruning, TTL
        part classification, and merge scoring. Caller holds _lock."""
        if meta.row_count == 0:
            self.manifest.remove(old_part_ids, retain=retain)
            self._delete_part_dirs(meta)
        else:
            self.manifest.swap(old_part_ids, meta, retain=retain)

    def _parts_with_pending_transforms(
            self, include_masks: bool) -> list[PartMeta]:
        """Live parts whose read path applies a recorded transform the
        physical bytes don't reflect yet: a rename-chain mismatch (the
        part stores an old physical name), a column-TTL/CLEAR expiry mark,
        a MODIFY-COLUMN cast (old physical type), a missing ALTER-ADD
        column (lazy default), or — with ``include_masks`` — a live
        lightweight-delete mask. These are exactly the parts a rewrite
        would change even when it merges nothing. Caller holds ``_lock``.
        """
        added_names = {a["name"] for a in
                       self.manifest.table_meta.get("added_columns", [])}
        full_cols = [f.name for f in self.schema.fields]
        original = [c for c in full_cols if c not in added_names]
        chains = (self._rename_chains()
                  if self.manifest.table_meta.get("renamed_columns") else {})
        lw = self._lw_entries() if include_masks else []
        out = []
        for p in self.manifest.parts:
            present = (set(p.columns) if p.columns is not None
                       else set(original))
            pending = bool(p.expired_cols) or bool(p.cast_cols)
            if not pending:
                for c in full_cols:
                    pn = next((cand for cand in chains.get(c, (c,))
                               if cand in present), None)
                    if pn != c:  # missing (None) or old physical name
                        pending = True
                        break
            if not pending and any(p.part_id in e["parts"] for e in lw):
                pending = True
            if pending:
                out.append(p)
        return out

    def optimize(self, final: bool = False, partition=None) -> None:
        """R32 OPTIMIZE / ``OPTIMIZE TABLE ... FINAL``: flush, then merge
        until ≤ max_parts (reference src/merge_tree.cpp:199-205). With
        ``final=True``, keep merging until every partition is ONE part —
        ClickHouse's FINAL keyword — bypassing the score-based scheduler:
        the point of FINAL is to force physical materialization of every
        read-time transform (mode collapse/dedup, lightweight-delete
        masks, lazy ALTER defaults) regardless of whether the merge is
        'worth it' by I/O scoring — including single-part partitions,
        which ClickHouse's FINAL also rewrites. Merges still never cross
        partitions.

        Plain ``optimize()`` additionally rewrites any part whose physical
        layout lags the table schema (pending rename, column-TTL/CLEAR
        mark, unmaterialized ALTER-ADD default) — schema-shaped
        transforms ride every compaction pass. Lightweight-delete masks
        are NOT a trigger here (they materialize at scheduled merges or
        FINAL): plain optimize under max_parts stays a no-op for masked
        tables, matching the mutation model's lazy contract.

        With ``partition`` set (``OPTIMIZE TABLE ... PARTITION v``), the
        pass is scoped to that partition's parts: they merge to one part
        (plus, with FINAL, a forced rewrite of a lone part carrying
        pending transforms) and every other partition is untouched — at
        100 TB you compact the hot partition without scheduling work
        across the cold ones."""
        if self._merges_stopped:
            raise ValueError(
                "merges are stopped (SYSTEM STOP MERGES); start_merges() "
                "first")
        self.flush()
        if partition is not None:
            self._require_partitioning()
            pstr = str(partition)
            while True:
                with self._merge_lock:
                    with self._lock:
                        group = [p for p in self.manifest.parts
                                 if p.partition == pstr]
                        if len(group) > 1:
                            target = group
                        else:
                            pending = [
                                p for p in
                                self._parts_with_pending_transforms(
                                    include_masks=final)
                                if p.partition == pstr]
                            target = [pending[0]] if pending else None
                    if target is None:
                        return
                    self._merge_group(target)
        if final:
            # Partitions merge independently (merges never cross them),
            # and single-part pending-transform rewrites touch disjoint
            # parts — each round batches every target into one concurrent
            # write pass (wall-clock ~max(partition) instead of
            # sum(partitions)); ids/commits keep the sequential order.
            while True:
                with self._merge_lock:
                    with self._lock:
                        groups: dict[str | None, list[PartMeta]] = {}
                        for p in self.manifest.parts:
                            groups.setdefault(p.partition, []).append(p)
                        targets = [g for g in groups.values() if len(g) > 1]
                        if not targets:
                            # every partition is one part: force-rewrite
                            # those still carrying read-time transforms
                            targets = [
                                [p] for p in
                                self._parts_with_pending_transforms(
                                    include_masks=True)]
                    if not targets:
                        return
                    self._merge_groups(targets)
        while self.should_trigger_merge():
            if not self.perform_merge():
                break
        while True:
            with self._merge_lock:
                with self._lock:
                    pending = self._parts_with_pending_transforms(
                        include_masks=False)
                if not pending:
                    return
                # disjoint single-part rewrites: one concurrent pass
                self._merge_groups([[p] for p in pending])

    def optimize_deduplicate(self, by: tuple[str, ...] | None = None
                             ) -> dict:
        """``OPTIMIZE TABLE ... FINAL DEDUPLICATE [BY col, ...]`` analog
        (ClickHouse — extension): force-merge each partition to one part
        AND drop duplicate rows in the merged result — the manual cleanup
        for data that was double-inserted (a replayed batch, a retried
        load) where the engine's (key, ts) collapse can't help because
        the duplicates are *whole identical rows*, not versions.

        ``by=None`` removes rows identical in EVERY column (ClickHouse's
        default). ``by=(cols...)`` keeps one row per distinct value of
        the subset; where ClickHouse keeps an arbitrary survivor, we pin
        the deterministic one — minimal in the remaining columns' sort
        order — so replays and the DuckDB oracle agree.

        One job per partition: the same read→collapse path as any merge,
        plus one extra window/aggregate on the dedup key, then a single
        sorted part written back. Merges never cross partitions, so at
        100 TB each partition dedups independently — schedule them in
        waves. Returns {"rows_before", "rows_after"}."""
        self.flush()
        cols = [f.name for f in self.schema.fields]
        if by:
            unknown = set(by) - set(cols)
            if unknown:
                raise ValueError(f"unknown dedup columns {sorted(unknown)}")
        rows_before = self.total_rows()

        def dedup(df: DataFrame) -> DataFrame:
            if by:
                from pyspark.sql import Window as W
                rest = [c for c in cols if c not in by]
                w = W.partitionBy(*by).orderBy(
                    *(rest if rest else [F.lit(1)]))
                return (df.withColumn("__rn", F.row_number().over(w))
                        .filter(F.col("__rn") == 1).drop("__rn"))
            return df.dropDuplicates()

        with self._merge_lock:
            with self._lock:
                groups: dict[str | None, list[PartMeta]] = {}
                for p in self.manifest.parts:
                    groups.setdefault(p.partition, []).append(p)
            # partitions dedup independently — one concurrent write pass
            self._merge_groups(list(groups.values()), transform=dedup)
        return {"rows_before": rows_before, "rows_after": self.total_rows()}

    # ----------------------------------------------------------------- TTL

    def apply_declared_ttl(self, now) -> dict:
        """Run one expiry sweep for the DDL-declared row TTL
        (``TTL ts + INTERVAL n unit``): expire rows older than
        ``now - interval``. The engine owns no clock — call this from
        whatever scheduler owns time (ClickHouse's own TTL fires on
        background merges, not instantly), passing ``now`` in the ts
        column's own unit."""
        rec = self.manifest.table_meta.get("declared_ttl")
        if rec is None:
            raise ValueError("table declares no TTL")
        if rec["col"] != self._ts:
            raise ValueError(
                f"declared TTL column {rec['col']!r} is not the ts "
                f"column {self._ts!r}; row TTL keys on the ts column")
        return self.expire(now - rec["interval_us"])

    def expire(self, before_ts) -> dict:
        """TTL retention (ClickHouse ``TTL ... DELETE`` analog — extension,
        no reference counterpart): remove every row with ts < ``before_ts``.

        Three cases by part metadata, so the common path touches no data:
        - max_ts < before_ts  → DROP the whole part: a manifest swap-out
          plus directory delete — metadata-only, zero rows read. At 100 TB
          with time-correlated parts (inserts arrive roughly in ts order,
          and compaction scoring favors neighbors) this is almost every
          expired byte.
        - min_ts ≥ before_ts  → untouched.
        - straddling          → rewritten once: read, filter ts ≥ cutoff,
          write as a new part (same sorted-part shape as any flush), atomic
          manifest swap, old dir deleted. At most a handful of parts sit on
          the boundary at any cutoff.
        Buffered rows below the cutoff are dropped in place. Serialized
        against merges by the merge lock (a concurrent merge could resurrect
        expired rows from a part this method just dropped).

        Returns {"parts_dropped", "parts_rewritten", "rows_removed"}.
        """
        self._resolve_deferred()  # buffered filtering needs exact counts
        with self._merge_lock:
            with self._lock:
                # buffer: drop expired rows driver-side / lazily
                removed_buf = 0
                if self._buffer_rows:
                    ts_ix = [f.name for f in self.schema.fields].index(self._ts)
                    kept = [r for r in self._buffer_rows if r[ts_ix] >= before_ts]
                    removed_buf += len(self._buffer_rows) - len(kept)
                    self._buffer_rows = kept
                if self._buffer_dfs:
                    filtered = []
                    for d, n in self._buffer_dfs:
                        if n is None:
                            # deferred block slipped past the pre-lock
                            # resolve pass: count and register it so the
                            # removed_buf subtraction below stays exact
                            n = d.count()
                            self._buffer_count += n
                        fd = d.filter(F.col(self._ts) >= F.lit(before_ts))
                        fn = fd.count()
                        removed_buf += n - fn
                        if fn:
                            filtered.append((fd, fn))
                    self._buffer_dfs = filtered
                self._buffer_count -= removed_buf

                # row_count == 0 guards legacy empty parts (pre-
                # _swap_or_remove manifests): no rows ⇒ droppable, and
                # their None min/max stats must not hit the comparisons
                drop = [p for p in self.manifest.parts
                        if p.row_count == 0 or p.max_ts < before_ts]
                rewrite = [p for p in self.manifest.parts
                           if p.row_count > 0
                           and p.min_ts < before_ts <= p.max_ts]

            retain = self.config.snapshot_retention > 0
            rows_removed = removed_buf + sum(p.row_count for p in drop)
            # whole-part drops: metadata only
            if drop:
                with self._lock:
                    self.manifest.remove([p.part_id for p in drop],
                                         retain=retain)
                    self.manifest.save()
                if not retain:
                    for p in drop:
                        self._delete_part_dirs(p)

            # straddling parts: one filtered rewrite each — independent
            # per-part jobs, overlapped concurrently with ids/commits in
            # part order (bit-identical manifest history)
            if rewrite:
                with self._lock:
                    ids = [self.manifest.allocate_part_id()
                           for _ in rewrite]
                metas = self._run_part_writes([
                    (lambda pid=pid, part=p: self._write_part(
                        pid,
                        self._read_parts([part]).filter(
                            F.col(self._ts) >= F.lit(before_ts)),
                        part.row_count, partition=part.partition))
                    for pid, p in zip(ids, rewrite)])
                attempted = 0
                try:
                    for p, meta in zip(rewrite, metas):
                        attempted += 1
                        rows_removed += p.row_count - meta.row_count
                        with self._lock:
                            self._swap_or_remove([p.part_id], meta,
                                                 retain=retain)
                            self.manifest.save()
                        if not retain:
                            self._delete_part_dirs(p)
                except BaseException:
                    for m in metas[attempted:]:
                        self._delete_part_dirs(m)
                    raise
            if retain:
                self.vacuum()
            if drop or rewrite:
                with self._lock:
                    self._gc_lw_deletes()
                    self.manifest.save()

            return {
                "parts_dropped": len(drop),
                "parts_rewritten": len(rewrite),
                "rows_removed": rows_removed,
            }

    def expire_rollup(self, before_ts, aggs: dict) -> dict:
        """TTL GROUP BY (ClickHouse ``TTL ts + INTERVAL ... GROUP BY key
        SET v = sum(v)`` analog — extension): rows with ts < ``before_ts``
        don't drop — they AGGREGATE. Per key (the sorting-key prefix,
        ClickHouse's GROUP BY restriction), all expired rows collapse to
        ONE rollup row: ts = the group's max expired ts, each ``aggs``
        column ({col: "sum"|"min"|"max"}) its aggregate, and every other
        column the value from the group's newest (max-ts) row — the
        deterministic analog of ClickHouse's keep-first-row contract
        (our (key, ts) invariant makes max-ts unique per key).

        Execution is one Spark job per partition group, not per part:
        affected parts (min_ts < cutoff) are read together through the
        evolved/masked read path, split into young (kept verbatim) and
        expired (grouped) halves, and written back as ONE part per
        partition — untouched parts (min_ts ≥ cutoff) are never opened,
        and partitions with no affected part cost nothing. At 100 TB with
        time-correlated parts this touches only the expiry frontier, and
        the aggregation is a single partial+final hash agg on the
        sorting-key prefix — the cheapest shuffle the table admits.
        Rollup rows cannot collide with young rows (their ts is below the
        cutoff by construction), so they re-enter the table as ordinary
        rows under the table's mode semantics.

        Buffered rows are flushed first. Returns
        {"parts_replaced", "rows_before", "rows_after"}."""
        known = {f.name for f in self.schema.fields}
        bad_cols = set(aggs) - known
        if bad_cols:
            raise ValueError(f"unknown column(s) {sorted(bad_cols)}")
        if {self._key, self._ts} & set(aggs):
            raise ValueError("cannot aggregate the sorting key columns")
        bad_fns = {fn for fn in aggs.values()
                   if fn not in ("sum", "min", "max")}
        if bad_fns:
            raise ValueError(f"unsupported rollup fn(s) {sorted(bad_fns)}")
        with self._merge_lock:
            self.flush()
            with self._lock:
                groups: dict[str | None, list[PartMeta]] = {}
                for p in self.manifest.parts:
                    if p.min_ts < before_ts:
                        groups.setdefault(p.partition, []).append(p)
            retain = self.config.snapshot_retention > 0
            types = {f.name: f.dataType for f in self.schema.fields}
            others = [f.name for f in self.schema.fields
                      if f.name not in (self._key, self._ts)
                      and f.name not in aggs]
            replaced = rows_before = rows_after = 0

            def rollup_df(parts: list[PartMeta]) -> DataFrame:
                # collapse FIRST (the merge primitive): unmerged parts can
                # hold duplicate (key, ts) rows that a read would hide —
                # rolling up the raw bytes would double-count them into
                # the aggregates. Rollup always sees the finalized view.
                src = self._collapse(self._read_parts(parts))
                young = src.filter(F.col(self._ts) >= F.lit(before_ts))
                rolled = (
                    src.filter(F.col(self._ts) < F.lit(before_ts))
                    .groupBy(self._key)
                    .agg(
                        F.max(self._ts).alias(self._ts),
                        *[getattr(F, fn)(c).cast(types[c]).alias(c)
                          for c, fn in aggs.items()],
                        *[F.max_by(c, self._ts).alias(c) for c in others],
                    )
                )
                return young.unionByName(rolled).select(
                    [f.name for f in self.schema.fields])

            # partition groups roll up independently — overlap the
            # write jobs, commit in group order (ids/history identical
            # to the sequential loop)
            items = list(groups.items())
            if items:
                with self._lock:
                    ids = [self.manifest.allocate_part_id() for _ in items]
                metas = self._run_part_writes([
                    (lambda pid=pid, partition=partition, parts=parts:
                     self._write_part(pid, rollup_df(parts),
                                      sum(p.row_count for p in parts),
                                      partition=partition))
                    for pid, (partition, parts) in zip(ids, items)])
                attempted = 0
                try:
                    for (partition, parts), meta in zip(items, metas):
                        attempted += 1
                        with self._lock:
                            self._swap_or_remove(
                                [p.part_id for p in parts], meta,
                                retain=retain)
                            self._gc_lw_deletes()
                            self.manifest.save()
                        if not retain:
                            for p in parts:
                                self._delete_part_dirs(p)
                        replaced += len(parts)
                        rows_before += sum(p.row_count for p in parts)
                        rows_after += meta.row_count
                except BaseException:
                    for m in metas[attempted:]:
                        self._delete_part_dirs(m)
                    raise
            if retain and groups:
                self.vacuum()
            return {"parts_replaced": replaced,
                    "rows_before": rows_before,
                    "rows_after": rows_after}

    # ------------------------------------------------------ schema evolution

    @staticmethod
    def _default_col(a: dict | None):
        """The declared default of an added-column record as a Column:
        a DEFAULT EXPRESSION (computed per row from the OTHER columns —
        ClickHouse ``DEFAULT expr``) when the record carries one, else
        the literal default (None record ⇒ SQL NULL)."""
        if a is None:
            return F.lit(None)
        if a.get("default_expr") is not None:
            return F.expr(a["default_expr"]).cast(a["ddl"])
        return F.lit(a["default"]).cast(a["ddl"])

    def add_column(self, name: str, ddl: str, default=None,
                   default_expr: str | None = None) -> None:
        """ALTER TABLE ADD COLUMN analog — metadata-only, zero parts
        rewritten (the ClickHouse contract: an ALTER is a metadata commit;
        old parts keep their physical layout and reads/merges fill the
        declared default lazily — see _read_parts).

        ``ddl`` is a Spark type DDL string ("string", "bigint",
        "decimal(18,6)", ...); ``default`` fills the column for every row
        that predates the ALTER (None = SQL NULL). ``default_expr`` is the
        ClickHouse ``DEFAULT expr`` form instead: a SQL expression over
        the table's OTHER columns, computed per row wherever the default
        applies — lazy reads of pre-ALTER parts, merge materialization,
        and column-TTL/CLEAR resets — and analyzed against the pre-ALTER
        schema now so bad expressions fail at the ALTER. Buffered rows
        are flushed first so they land in a part correctly tagged as
        pre-evolution. Persisted in the manifest — a reopen with the
        original schema replays the evolution."""
        if default is not None and default_expr is not None:
            raise ValueError("give default OR default_expr, not both")
        if default_expr is not None:
            # analyze against the PRE-ALTER schema: the expression may use
            # every existing column but not the one being added
            self._empty_df().select(
                F.expr(default_expr).cast(ddl)).schema
        with self._merge_lock:
            self.flush()
            with self._lock:
                if any(f.name == name for f in self.schema.fields):
                    raise ValueError(f"column {name!r} already exists")
                if any(r["from"] == name for r in
                       self.manifest.table_meta.get("renamed_columns", [])):
                    # replay applies adds before renames; a new column
                    # reusing a renamed-away name would be captured by the
                    # old rename on reopen. ClickHouse permits this; we
                    # trade the corner for a sound three-list replay.
                    # Validated BEFORE any state mutates: a refused ALTER
                    # must leave the schema untouched (a previous version
                    # widened self.schema first, so the refusal left a
                    # half-applied column behind — caught by the fuzzer).
                    raise ValueError(
                        f"column name {name!r} was renamed away and cannot "
                        f"be reused; pick a different name")
                self.schema = T.StructType(
                    list(self.schema.fields)
                    + list(T.StructType.fromDDL(f"`{name}` {ddl}")))
                added = self.manifest.table_meta.setdefault(
                    "added_columns", [])
                # re-ADD after a DROP: retire the old add record (its
                # default must not shadow this one) but KEEP the drop
                # entry — reopen replays drops before adds, so the drop
                # removes the original field and this add record replays
                # with THIS ddl/position (removing the drop entry would
                # leave the reopened table at the original type/position
                # while post-re-add parts physically store the new type).
                # Parts written before the drop had the name stripped from
                # their column lists, so they serve THIS default lazily,
                # never the pre-drop bytes.
                added[:] = [a for a in added if a["name"] != name]
                rec = {"name": name, "ddl": ddl, "default": default}
                if default_expr is not None:
                    rec["default_expr"] = default_expr
                added.append(rec)
                self.manifest.save()

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN analog — metadata-only, zero parts
        rewritten (the ClickHouse contract: the ALTER is a metadata
        commit; old parts keep the physical bytes and shed them at their
        next rewrite, because merges/mutations/TTL all read at the
        CURRENT schema).

        The name is stripped from every live part's physical-column list
        so a later re-ADD of the same name serves the new default for
        pre-drop parts instead of resurrecting the stale bytes (ClickHouse
        semantics: DROP destroys the data logically). Sorting-key /
        partition / mode / index / projection columns cannot be dropped —
        the part layout and pruning metadata depend on them, the same
        restriction ClickHouse enforces. Persisted in the manifest; reopen
        with the original schema replays the drop."""
        with self._merge_lock:
            self.flush()
            with self._lock:
                if not any(f.name == name for f in self.schema.fields):
                    raise ValueError(f"unknown column {name!r}")
                structural = self._structural_cols()
                if name in structural:
                    raise ValueError(
                        f"cannot drop structural column {name!r} "
                        f"(sorting key / partition / mode / index / "
                        f"projection columns: {sorted(structural)})")
                broken = self._expr_dependents(name)
                if broken:
                    raise ValueError(
                        f"cannot drop {name!r}: referenced by "
                        f"{', '.join(broken)} — drop those first")
                # dropping a renamed column: retire its whole rename chain —
                # every historical physical name must be stripped and listed
                # as dropped, or replay/reads would resurrect the old bytes.
                # Computed BEFORE the schema narrows: _rename_chains() only
                # builds chains for fields still in the schema, so a
                # post-narrowing lookup would fall back to the trivial
                # (name,) and lose the historical physical names.
                chain = set(self._rename_chains().get(name, (name,)))
                self.schema = T.StructType(
                    [f for f in self.schema.fields if f.name != name])
                tm = self.manifest.table_meta
                tm["added_columns"] = [
                    a for a in tm.get("added_columns", [])
                    if a["name"] != name]
                tm["renamed_columns"] = [
                    r for r in tm.get("renamed_columns", [])
                    if r["to"] not in chain]
                dropped = tm.setdefault("dropped_columns", [])
                for c in sorted(chain):
                    if c not in dropped:
                        dropped.append(c)
                detached = self._detached_metas()
                all_parts = (list(self.manifest.parts)
                             + [p for p, _ in
                                self.manifest.tombstones.values()]
                             + detached)
                tm["modified_columns"] = [
                    m for m in tm.get("modified_columns", [])
                    if m["name"] != name]
                tm.get("column_comments", {}).pop(name, None)
                for p in all_parts:
                    if p.columns is not None and chain & set(p.columns):
                        p.columns = [c for c in p.columns if c not in chain]
                    if p.expired_cols and chain & set(p.expired_cols):
                        p.expired_cols = [c for c in p.expired_cols
                                          if c not in chain] or None
                    if p.cast_cols and chain & set(p.cast_cols):
                        p.cast_cols = {c: d for c, d in p.cast_cols.items()
                                       if c not in chain} or None
                self._park_detached(detached)
                self.manifest.save()

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN analog — metadata-only, zero parts
        rewritten: the schema field renames in place, parts keep the OLD
        physical name, and reads map each logical column to its per-part
        physical name via the rename chain (_read_parts). The physical
        rename happens lazily at each part's next rewrite, because
        rewrites read at the current schema — the same contract as
        ADD/DROP.

        Structural columns are refused (config references them by name);
        renames while lightweight-delete masks are live are refused too —
        the stored SQL predicates reference columns by name and would
        silently stop matching (materialize_deletes() first). Persisted in
        the manifest; reopen with the original schema replays the chain.
        """
        with self._merge_lock:
            self.flush()
            with self._lock:
                if not any(f.name == old for f in self.schema.fields):
                    raise ValueError(f"unknown column {old!r}")
                if any(f.name == new for f in self.schema.fields):
                    raise ValueError(f"column {new!r} already exists")
                structural = self._structural_cols()
                if old in structural:
                    raise ValueError(
                        f"cannot rename structural column {old!r} "
                        f"(sorting key / partition / mode / index / "
                        f"projection columns: {sorted(structural)})")
                broken = self._expr_dependents(old)
                if broken:
                    raise ValueError(
                        f"cannot rename {old!r}: referenced by "
                        f"{', '.join(broken)} — drop those first")
                tm = self.manifest.table_meta
                used = {r["from"] for r in tm.get("renamed_columns", [])}
                used.update(tm.get("dropped_columns", []))
                if new in used:
                    raise ValueError(
                        f"column name {new!r} was renamed away or dropped "
                        f"and cannot be reused; pick a different name")
                if self._lw_entries():
                    raise ValueError(
                        "cannot rename while lightweight-delete masks are "
                        "live — their predicates reference columns by "
                        "name; materialize_deletes() first")
                # freeze physical truth: legacy parts (columns=None) imply
                # "exactly the current original columns", which stops being
                # derivable once names shift — materialize before renaming
                added_names = {a["name"]
                               for a in tm.get("added_columns", [])}
                original = [f.name for f in self.schema.fields
                            if f.name not in added_names]
                detached = self._detached_metas()
                all_parts = (list(self.manifest.parts)
                             + [p for p, _ in
                                self.manifest.tombstones.values()]
                             + detached)
                for p in all_parts:
                    if p.columns is None:
                        p.columns = list(original)
                    if p.expired_cols and old in p.expired_cols:
                        p.expired_cols = sorted(
                            c if c != old else new for c in p.expired_cols)
                self.schema = T.StructType([
                    T.StructField(new, f.dataType, f.nullable)
                    if f.name == old else f
                    for f in self.schema.fields])
                for a in tm.get("added_columns", []):
                    if a["name"] == old:
                        a["name"] = new
                for mrec in tm.get("modified_columns", []):
                    # modify-log entries replay AFTER renames, so they
                    # must carry the column's final (post-rename) name
                    if mrec["name"] == old:
                        mrec["name"] = new
                cm = tm.get("column_comments", {})
                if old in cm:
                    cm[new] = cm.pop(old)  # comments follow renames
                tm.setdefault("renamed_columns", []).append(
                    {"from": old, "to": new})
                self._park_detached(detached)
                self.manifest.save()

    def modify_column(self, name: str, ddl: str) -> None:
        """ALTER TABLE MODIFY COLUMN (type change) analog — metadata-only,
        zero parts rewritten: the schema field's type changes in place,
        parts keep their physical encoding, and reads cast each part's
        recorded physical type to the declared type lazily (``cast_cols``
        in part metadata). The physical re-encode rides each part's next
        rewrite — merges/mutations/TTL read through the casting path, so
        every rewrite materializes the new type. Same lazy contract as
        ADD/DROP/RENAME; at 100 TB the ALTER is O(parts) metadata, not an
        O(table) rewrite (ClickHouse materializes type changes at merge
        the same way).

        The cast follows Spark CAST semantics (ClickHouse's own contract
        for MODIFY). Structural columns are refused — part sort order,
        pruning metadata, and merge semantics are typed. Modifies while
        lightweight-delete masks are live are refused too: the stored SQL
        predicates were typed against the old column and could silently
        change meaning under the cast (materialize_deletes() first).
        Persisted in the manifest; reopen with the original schema
        replays the modify (after drops/adds/renames, so the log carries
        the POST-rename name — rename_column keeps it updated)."""
        with self._merge_lock:
            self.flush()
            with self._lock:
                fld = next((f for f in self.schema.fields
                            if f.name == name), None)
                if fld is None:
                    raise ValueError(f"unknown column {name!r}")
                structural = self._structural_cols()
                if name in structural:
                    raise ValueError(
                        f"cannot modify structural column {name!r} "
                        f"(sorting key / partition / mode / index / "
                        f"projection columns: {sorted(structural)})")
                if self._lw_entries():
                    raise ValueError(
                        "cannot modify while lightweight-delete masks are "
                        "live — their predicates were typed against the "
                        "old column; materialize_deletes() first")
                new_type = T.StructType.fromDDL(f"`x` {ddl}")[0].dataType
                if new_type == fld.dataType:
                    return
                old_ddl = fld.dataType.simpleString()
                tm = self.manifest.table_meta
                # per-part record of the PHYSICAL type still on disk —
                # keyed by the part's physical name for the column (old
                # parts may predate renames). First modify wins: the
                # bytes never changed, so the original recorded type
                # stays authoritative under repeated modifies.
                chain = self._rename_chains().get(name, (name,))
                added_names = {a["name"]
                               for a in tm.get("added_columns", [])}
                original = [f.name for f in self.schema.fields
                            if f.name not in added_names]
                detached = self._detached_metas()
                all_parts = (list(self.manifest.parts)
                             + [p for p, _ in
                                self.manifest.tombstones.values()]
                             + detached)
                for p in all_parts:
                    present = (set(p.columns) if p.columns is not None
                               else set(original))
                    phys = next((c for c in chain if c in present), None)
                    if phys is None:
                        continue  # pre-ADD part: default fill casts
                    casts = dict(p.cast_cols or {})
                    casts.setdefault(phys, old_ddl)
                    p.cast_cols = casts
                self.schema = T.StructType([
                    T.StructField(name, new_type, f.nullable)
                    if f.name == name else f
                    for f in self.schema.fields])
                for a in tm.get("added_columns", []):
                    if a["name"] == name:
                        a["ddl"] = ddl  # missing parts fill at the new type
                tm.setdefault("modified_columns", []).append(
                    {"name": name, "ddl": ddl})
                self._park_detached(detached)
                self.manifest.save()

    def materialize_column(self, name: str) -> dict:
        """``ALTER TABLE ... MATERIALIZE COLUMN`` analog: force the
        physical rewrite of every part whose bytes lag the declared
        column — a missing ALTER-ADD column (lazy default), a pending
        MODIFY cast, a pending RENAME, or a column-TTL/CLEAR expiry
        mark — without waiting for the next
        merge and without touching parts that are already current. The
        per-column, on-demand version of what rewrites do lazily; after
        it returns, scans of ``name`` hit physical bytes only.

        Each affected part rewrites independently (single-part merge
        jobs), so at 100 TB the work parallelizes per part and is bounded
        by the evolution frontier, not the table. Returns
        {"parts_rewritten", "rows_rewritten"}."""
        if not any(f.name == name for f in self.schema.fields):
            raise ValueError(f"unknown column {name!r}")
        self.flush()
        with self._merge_lock:
            with self._lock:
                added_names = {
                    a["name"] for a in
                    self.manifest.table_meta.get("added_columns", [])}
                original = [f.name for f in self.schema.fields
                            if f.name not in added_names]
                chain = self._rename_chains().get(name, (name,))
                targets = []
                for p in self.manifest.parts:
                    present = (set(p.columns) if p.columns is not None
                               else set(original))
                    phys = next((c for c in chain if c in present), None)
                    if (phys is None                   # lazy default
                            or phys != name            # pending rename
                            or (p.cast_cols or {}).get(phys)  # cast
                            # column-TTL / CLEAR COLUMN expiry mark
                            or name in (p.expired_cols or ())):
                        targets.append(p)
            # rewriting one lagging part never changes whether ANOTHER
            # part lags, so the frontier is fixed upfront and the
            # independent single-part rewrites overlap as one concurrent
            # pass (ids/commits in manifest-part order — identical to
            # the one-at-a-time loop)
            self._merge_groups([[p] for p in targets])
        return {"parts_rewritten": len(targets),
                "rows_rewritten": sum(p.row_count for p in targets)}

    def _apply_index_config(self, col: str, kind: str,
                            n: int | None = None) -> None:
        """Fold one ADD INDEX record into the live config (idempotent)."""
        c = self.config
        if kind == "tokenbf" and col not in c.token_bloom_cols:
            c.token_bloom_cols = tuple(c.token_bloom_cols) + (col,)
        elif kind == "ngrambf" and col not in c.ngram_bloom_cols:
            c.ngram_bloom_cols = tuple(c.ngram_bloom_cols) + (col,)
        elif kind == "minmax" and col not in c.minmax_cols:
            c.minmax_cols = tuple(c.minmax_cols) + (col,)
        elif kind == "set" and col not in [x for x, _ in c.set_index_cols]:
            c.set_index_cols = (tuple(c.set_index_cols)
                                + ((col, int(n or 100)),))

    def add_index(self, col: str, kind: str, n: int | None = None,
                  name: str | None = None) -> None:
        """``ALTER TABLE ... ADD INDEX`` analog (ClickHouse data-skipping
        index DDL on an EXISTING table): a metadata-only manifest commit —
        zero parts read. New parts (flushes, merges, rewrites) build the
        index at write time; parts that predate the ALTER stay index-less,
        and index-less means "no claim", so reads stay correct and merely
        un-pruned until ``materialize_index`` backfills them — exactly
        ClickHouse's ADD INDEX / MATERIALIZE INDEX split. Kinds:
        ``tokenbf`` | ``ngrambf`` | ``minmax`` | ``set`` (``n`` = max
        stored distinct values, default 100). Persisted in the manifest
        and replayed on reopen."""
        if not any(f.name == col for f in self.schema.fields):
            raise ValueError(f"unknown column {col!r}")
        kinds = ("tokenbf", "ngrambf", "minmax", "set")
        if kind not in kinds:
            raise ValueError(f"unknown index kind {kind!r}; one of {kinds}")
        name = name or f"{kind}_{col}"
        with self._lock:
            recs = self.manifest.table_meta.setdefault("indexes", [])
            if any(r["col"] == col and r["kind"] == kind for r in recs):
                raise ValueError(f"index {kind}({col!r}) already exists")
            if any(r.get("name") == name for r in recs):
                raise ValueError(f"index named {name!r} already exists")
            self._apply_index_config(col, kind, n)
            recs.append({"name": name, "col": col, "kind": kind, "n": n})
            self.manifest.save()

    def index_by_name(self, name: str) -> dict:
        """The ADD INDEX record registered under ``name`` (DDL surface)."""
        with self._lock:
            for r in self.manifest.table_meta.get("indexes", []):
                if r.get("name") == name:
                    return dict(r)
        raise KeyError(f"no index named {name!r}")

    def drop_index(self, col: str, kind: str) -> None:
        """``ALTER TABLE ... DROP INDEX`` analog: unregister the index —
        new parts stop building it; per-part metadata already attached
        stays (its claims remain TRUE, so old parts keep pruning —
        harmless) and ages out as rewrites touch each part. The column
        stops being structural, so it becomes droppable again. Scope:
        indexes added via ``add_index`` (manifest-tracked DDL) —
        creation-time config indexes are the caller's config to change."""
        with self._lock:
            recs = self.manifest.table_meta.get("indexes", [])
            if not any(r["col"] == col and r["kind"] == kind
                       for r in recs):
                raise KeyError(f"no index {kind}({col!r})")
            self.manifest.table_meta["indexes"] = [
                r for r in recs
                if not (r["col"] == col and r["kind"] == kind)]
            c = self.config
            if kind == "tokenbf":
                c.token_bloom_cols = tuple(
                    x for x in c.token_bloom_cols if x != col)
            elif kind == "ngrambf":
                c.ngram_bloom_cols = tuple(
                    x for x in c.ngram_bloom_cols if x != col)
            elif kind == "minmax":
                c.minmax_cols = tuple(
                    x for x in c.minmax_cols if x != col)
            elif kind == "set":
                c.set_index_cols = tuple(
                    (x, n) for x, n in c.set_index_cols if x != col)
            self.manifest.save()

    def materialize_index(self, col: str | None = None) -> dict:
        """``ALTER TABLE ... MATERIALIZE INDEX`` analog: backfill skipping
        indexes onto LIVE parts written before their ADD INDEX. Each part
        missing index metadata gets the same single-column scans a part
        write runs; already-indexed parts are untouched, so re-running is
        idempotent and the work is bounded by the ALTER frontier, not the
        table — at 100 TB each part backfills as an independent job.
        Snapshot tombstones are exempt (no claim ⇒ time-travel reads scan
        them; pruning is pure optimization). Returns
        {"parts_indexed", "parts_skipped"}."""
        self.flush()
        # land pending write-path builds first: a part with an in-flight
        # bloom is NOT missing its index and must not be rebuilt here
        self._drain_index_builds()
        with self._lock:
            parts = list(self.manifest.parts)

        def backfill(p: PartMeta) -> bool:
            """True = this part was indexed (False = already current).
            Touches only ``p``'s own metadata, so the per-part backfills
            are independent single-column scan jobs — run concurrently
            below (the 100 TB contract in the docstring, applied
            locally)."""
            present = (set(p.columns) if p.columns is not None
                       else {f.name for f in self.schema.fields})

            def want(c: str) -> bool:
                return (col is None or c == col) and c in present

            tok_missing = [c for c in self.config.token_bloom_cols
                           if want(c) and c not in (p.token_blooms or {})]
            ng_missing = [c for c in self.config.ngram_bloom_cols
                          if want(c) and c not in (p.ngram_blooms or {})]
            mm_missing = [c for c in self.config.minmax_cols
                          if want(c) and c not in (p.col_stats or {})]
            set_missing = [(c, nn) for c, nn in self.config.set_index_cols
                           if want(c) and c not in (p.col_sets or {})]
            if not (tok_missing or ng_missing or mm_missing or set_missing):
                return False
            if tok_missing:
                self._attach_token_blooms(p)
            if ng_missing:
                self._attach_ngram_blooms(p)
            if mm_missing or set_missing:
                aggs = []
                for c in mm_missing:
                    aggs += [F.min(c).alias(f"mm_min_{c}"),
                             F.max(c).alias(f"mm_max_{c}")]
                for c, _nn in set_missing:
                    aggs.append(F.collect_set(F.col(c).cast("string"))
                                .alias(f"set_{c}"))
                row = self.spark.read.parquet(p.path).agg(*aggs).collect()[0]
                if mm_missing:
                    p.col_stats = dict(p.col_stats or {})
                    for c in mm_missing:
                        p.col_stats[c] = [row[f"mm_min_{c}"],
                                          row[f"mm_max_{c}"]]
                if set_missing:
                    p.col_sets = dict(p.col_sets or {})
                    for c, nn in set_missing:
                        vals = row[f"set_{c}"]
                        p.col_sets[c] = (sorted(vals) if len(vals) <= nn
                                         else None)
            return True

        from clickhouse_mergetree_spark.parallel import run_concurrently
        done = run_concurrently([(lambda part=p: backfill(part))
                                 for p in parts],
                                max_workers=min(8, max(1, len(parts))))
        with self._lock:
            self.manifest.save()
        return {"parts_indexed": sum(1 for d in done if d),
                "parts_skipped": sum(1 for d in done if not d)}

    def clear_column(self, name: str, partition=None) -> dict:
        """``ALTER TABLE CLEAR COLUMN [IN PARTITION]`` analog: reset the
        column to its declared default (ADD COLUMN default, else NULL) for
        every row — optionally scoped to one partition. Rows survive;
        that's DROP PARTITION / DELETE territory.

        Pure metadata at any table size: each affected part gets an
        ``expired_cols`` mark (the column-TTL machinery with no time
        predicate), reads serve the default immediately, and the physical
        clear rides each part's next rewrite. Buffered rows are flushed
        first so they land in a markable part.

        Returns {"parts_marked", "cells_cleared"}."""
        known = {f.name for f in self.schema.fields}
        if name not in known:
            raise ValueError(f"unknown column {name!r}")
        structural = self._structural_cols()
        if name in structural:
            raise ValueError(
                f"cannot clear structural column {name!r}")
        with self._merge_lock:
            self.flush()
            with self._lock:
                marked = cells = 0
                for p in self.manifest.parts:
                    if partition is not None and p.partition != partition:
                        continue
                    if name in (p.expired_cols or ()):
                        continue
                    p.expired_cols = sorted(
                        set(p.expired_cols or ()) | {name})
                    marked += 1
                    cells += p.row_count
                # tombstoned snapshot parts get the mark too (as
                # drop_column does): time-travel reads must observe the
                # post-CLEAR values, not leak the cleared data — but they
                # don't count toward the live-table stats
                # tombstones only — NOT detached parts: CLEAR is a DATA
                # operation, and detached data is preserved as-is until
                # re-attach (the same contract as lightweight deletes and
                # mutations, which bind to parts in the table at commit;
                # ClickHouse data ops skip detached/ likewise). Schema
                # ALTERs (drop/rename/modify) DO mark detached parts —
                # those are readability requirements, not data edits.
                dirty = marked > 0
                for p, _v in self.manifest.tombstones.values():
                    if partition is not None and p.partition != partition:
                        continue
                    if name in (p.expired_cols or ()):
                        continue
                    p.expired_cols = sorted(
                        set(p.expired_cols or ()) | {name})
                    dirty = True
                if dirty:
                    self.manifest.save()
            return {"parts_marked": marked, "cells_cleared": cells}

    def _detached_metas(self) -> list[PartMeta]:
        """Detached (parked) parts as PartMeta handles. Every ALTER's
        part-marking loop must cover them — they re-enter the live set
        via ATTACH and must carry the same column-list strips, rename
        freezes, cast records, and expiry marks as live parts, or ATTACH
        after an ALTER would serve stale bytes (the same bug class DROP's
        column-list strip exists to prevent). Pair with _park_detached to
        persist edits. Caller holds _lock."""
        return [PartMeta(**d) for d in
                self.manifest.table_meta.get("detached", [])]

    def _park_detached(self, metas: list[PartMeta]) -> None:
        """Write edited detached-part handles back to the manifest."""
        from dataclasses import asdict
        if metas or self.manifest.table_meta.get("detached"):
            self.manifest.table_meta["detached"] = [
                asdict(p) for p in metas]

    def _rename_chains(self) -> dict:
        """Per current logical column, its historical physical names,
        newest first — [current, previous, ...]. A part's physical name
        for the column is the first chain entry present in its column
        list. Empty rename log ⇒ every chain is the trivial [name]."""
        log = self.manifest.table_meta.get("renamed_columns", [])
        chains: dict[str, list[str]] = {}
        for f in self.schema.fields:
            chain = [f.name]
            cur = f.name
            for e in reversed(log):
                if e["to"] == cur:
                    cur = e["from"]
                    chain.append(cur)
            chains[f.name] = chain
        return chains

    def _expr_dependents(self, without: str) -> list[str]:
        """Registered SQL expressions (row policies, CHECK constraints,
        expression defaults) that stop analyzing once ``without`` leaves
        the schema — DROP/RENAME must refuse rather than break every
        later read/insert. Analysis-only, no job."""
        probe = self.spark.createDataFrame([], T.StructType(
            [f for f in self.schema.fields if f.name != without]))
        tm = self.manifest.table_meta
        recs = ([("partition expression", self.config.partition_expr)]
                if self.config.partition_expr is not None else [])
        recs += ([(f"row policy {r['name']!r}", r["expr"])
                  for r in tm.get("row_policies", [])]
                + [(f"constraint {r['name']!r}", r["expr"])
                   for r in tm.get("constraints", [])]
                + [(f"default expression of {a['name']!r}",
                    a["default_expr"])
                   for a in tm.get("added_columns", [])
                   if a.get("default_expr") is not None
                   and a["name"] != without])
        broken = []
        for label, expr in recs:
            try:
                probe.select(F.expr(expr)).schema
            except Exception:
                broken.append(label)
        return broken

    def _structural_cols(self) -> set:
        """Columns the engine's machinery depends on — sorting key,
        partition, mode (sign/version/deleted/summed/aggregated), skipping
        indexes, projections. Refused by drop_column/expire_columns: part
        order, pruning metadata, or merge semantics would silently break."""
        cfg = self.config
        cols = {self._key, self._ts}
        if cfg.partition_col:
            cols.add(cfg.partition_col)
        if cfg.mode in ("collapsing", "versioned_collapsing"):
            cols.add(cfg.sign_col)
        if cfg.mode in ("versioned_collapsing", "replacing"):
            cols.add(cfg.version_col)
        if cfg.deleted_col:
            cols.add(cfg.deleted_col)
        if cfg.sum_cols:
            cols.update(cfg.sum_cols)
        if cfg.agg_cols:
            cols.update(cfg.agg_cols)
        cols.update(cfg.minmax_cols)
        cols.update(cfg.token_bloom_cols)
        cols.update(cfg.ngram_bloom_cols)
        cols.update(c for c, _n in cfg.set_index_cols)
        for spec in cfg.projections:
            cols.update(spec.group_by)
            cols.update(src for _, src in spec.aggs.values())
        return cols

    def expire_columns(self, cutoffs: dict) -> dict:
        """Column-level TTL (ClickHouse ``c TTL ts + INTERVAL ...``
        analog): for each column c, every row with ts < ``cutoffs[c]``
        reverts c to its default (the ADD COLUMN default if declared, else
        NULL). Rows are never dropped — that is ``expire()``, row TTL.

        Three cases per (part, column), so the common paths touch no data:
        - max_ts < cutoff  → the whole part's column is expired: recorded
          in part metadata (``expired_cols``) and served as the default at
          read time; the part's NEXT rewrite (merge, mutation, straddling
          TTL) materializes it physically because rewrites read through
          _read_parts. Metadata-only — at 100 TB with time-correlated
          parts this is almost every expired byte, and the physical work
          rides merges, exactly ClickHouse's TTL-at-merge contract.
        - min_ts ≥ cutoff  → untouched, never opened.
        - straddling       → the part is rewritten ONCE applying every
          straddling column's conditional default (already-expired columns
          materialize in the same pass).

        Buffered rows are flushed first so every row inserted before the
        call is covered. Serialized against merges (a concurrent merge
        rewrites parts this method is marking). Not version-gated: like
        schema evolution, time-travel reads observe post-TTL values.

        Returns {"parts_meta_expired", "parts_rewritten", "cells_cleared"}.
        """
        known = {f.name for f in self.schema.fields}
        unknown = set(cutoffs) - known
        if unknown:
            raise ValueError(f"unknown column(s) {sorted(unknown)}")
        structural = self._structural_cols()
        bad = set(cutoffs) & structural
        if bad:
            raise ValueError(
                f"cannot TTL structural column(s) {sorted(bad)}")
        with self._merge_lock:
            self.flush()
            with self._lock:
                parts = list(self.manifest.parts)
            retain = self.config.snapshot_retention > 0
            added = self.manifest.table_meta.get("added_columns", [])
            defaults = {a["name"]: a for a in added}
            meta_expired = rewritten = cells = 0
            dirty = False
            todo: list[tuple] = []  # (part, full, straddle) rewrites
            for p in parts:
                already = set(p.expired_cols or ())
                full = {c for c, cut in cutoffs.items()
                        if p.max_ts < cut and c not in already}
                straddle = {c: cut for c, cut in cutoffs.items()
                            if p.min_ts < cut <= p.max_ts}
                if straddle:
                    todo.append((p, full, straddle))
                elif full:
                    # metadata-only: mark and serve the default at read
                    with self._lock:
                        p.expired_cols = sorted(already | full)
                    cells += p.row_count * len(full)
                    meta_expired += 1
                    dirty = True
            if todo:
                # straddling parts rewrite independently: overlap the
                # cell-count aggregates, then the rewrites; commit in
                # part order (ids/history identical to sequential)
                from clickhouse_mergetree_spark.parallel import (
                    run_concurrently,
                )

                srcs = [self._read_parts([p]) for p, _f, _s in todo]
                counts = run_concurrently([
                    (lambda s=s, straddle=straddle: s.agg(*[
                        F.sum(F.when(F.col(self._ts) < F.lit(cut), 1)
                              .otherwise(0)).alias(c)
                        for c, cut in straddle.items()]).first())
                    for s, (_p, _f, straddle) in zip(srcs, todo)],
                    max_workers=min(8, len(todo)))
                with self._lock:
                    ids = [self.manifest.allocate_part_id() for _ in todo]

                def rewrite_df(src, full, straddle) -> DataFrame:
                    new_df = src.withColumns({
                        c: F.when(F.col(self._ts) < F.lit(cut),
                                  self._default_col(defaults.get(c)))
                        .otherwise(F.col(c))
                        .cast(self.schema[c].dataType)
                        for c, cut in straddle.items()
                    })
                    if full:
                        new_df = new_df.withColumns({
                            c: self._default_col(defaults.get(c)).cast(
                                self.schema[c].dataType)
                            for c in full})
                    return new_df

                metas = self._run_part_writes([
                    (lambda pid=pid, src=src, part=p, full=full,
                     straddle=straddle: self._write_part(
                         pid, rewrite_df(src, full, straddle),
                         part.row_count, partition=part.partition))
                    for pid, src, (p, full, straddle)
                    in zip(ids, srcs, todo)])
                attempted = 0
                try:
                    for (p, full, straddle), row, meta in zip(
                            todo, counts, metas):
                        attempted += 1
                        cells += sum(row[c] or 0 for c in straddle)
                        cells += p.row_count * len(full)
                        with self._lock:
                            self._swap_or_remove([p.part_id], meta,
                                                 retain=retain)
                            self.manifest.save()
                        if not retain:
                            self._delete_part_dirs(p)
                        rewritten += 1
                except BaseException:
                    for m in metas[attempted:]:
                        self._delete_part_dirs(m)
                    raise
            # tombstoned snapshot parts: mark fully-expired columns so
            # time-travel reads observe post-TTL values instead of leaking
            # the expired data (straddling tombstoned parts are exempt —
            # expired_cols is whole-part, and a snapshot-only part is
            # never rewritten; it reclaims at vacuum)
            with self._lock:
                # tombstones only — NOT detached parts (data op; see
                # clear_column's detached-exemption rationale)
                for p, _v in self.manifest.tombstones.values():
                    already = set(p.expired_cols or ())
                    full = {c for c, cut in cutoffs.items()
                            if p.max_ts < cut and c not in already}
                    if full:
                        p.expired_cols = sorted(already | full)
                        dirty = True
            if dirty:
                with self._lock:
                    self.manifest.save()
            if retain:
                self.vacuum()
            return {"parts_meta_expired": meta_expired,
                    "parts_rewritten": rewritten,
                    "cells_cleared": cells}

    # -------------------------------------------------------------- mutations

    def mutate(self, pred, assignments: dict | None = None,
               key_range=None, partition=None, col_range=None) -> dict:
        """ALTER TABLE ... DELETE/UPDATE ... WHERE analog — the ClickHouse
        mutation model: parts are immutable, so each part holding matching
        rows is rewritten ONCE (read → transform → sorted part write →
        atomic manifest swap) and untouched parts are not even opened.

        ``pred`` is a Column predicate choosing the affected rows
        (NULL ⇒ unaffected, SQL WHERE semantics). ``assignments`` None ⇒
        DELETE; ``{col: Column expr}`` ⇒ UPDATE applied to matching rows
        (sorting-key / partition columns cannot be assigned — same
        restriction as ClickHouse, the part's physical order depends on
        them). ``key_range`` / ``partition`` / ``col_range`` are optional
        pruning hints reusing the read path's manifest machinery; the
        caller guarantees pred ⇒ hint, and parts outside the hint are
        skipped without a scan — at 100 TB this is the difference between
        rewriting one partition and scanning every part for matches.

        Buffered rows are flushed first, so the mutation covers everything
        inserted before the call (concurrent inserts are unaffected, like
        ClickHouse's mutation-version cutoff). Each candidate part costs
        one match-count job + (if matched) one rewrite job — independent
        per part, exactly ClickHouse's per-part mutation tasks. A part
        whose every row is deleted becomes a metadata-only drop.

        Durability (ADVICE r4): a mutation intent record is committed to
        ``table_meta["active_mutation"]`` before any part is touched and
        cleared after the last commit. Per-part swaps are atomic, so a
        crash mid-loop leaves a consistent table with the mutation applied
        to a prefix of parts — the surviving intent record makes that
        state DETECTABLE: reopen surfaces it as ``incomplete_mutation``
        (with a warning) so the caller can re-run the mutation. Re-running
        is safe for DELETE and for UPDATEs whose assignments are absolute
        expressions (already-mutated parts simply match nothing / map to
        the same values); self-referential assignments (v = v+1) are not
        idempotent and the caller must reconcile using the pending part
        ids in the record. Unlike ClickHouse's persisted mutation log we
        cannot auto-resume — predicates are live Column objects, not SQL
        text, and do not survive the process.

        Returns {"parts_scanned", "parts_rewritten", "rows_affected"}.
        """
        if assignments:
            immutable = {self._key, self._ts, self.config.partition_col}
            bad = set(assignments) & immutable
            if bad:
                raise ValueError(f"cannot assign sorting/partition column(s) "
                                 f"{sorted(bad)}")
            known = {f.name for f in self.schema.fields}
            unknown = set(assignments) - known
            if unknown:
                raise ValueError(f"unknown column(s) {sorted(unknown)}")
        hit = F.coalesce(pred, F.lit(False))
        with self._merge_lock:
            self.flush()
            with self._lock:
                cands = (self.manifest.prune(*key_range) if key_range
                         else list(self.manifest.parts))
                if col_range is not None:
                    c, lo, hi = col_range
                    cands = [p for p in cands if p.may_match_range(c, lo, hi)]
                if partition is not None:
                    cands = [p for p in cands if p.partition == partition]
            retain = self.config.snapshot_retention > 0
            parts_rewritten = 0
            rows_affected = 0
            # Commit the mutation intent BEFORE touching any part: if the
            # process dies mid-loop, reopen sees the record and reports an
            # incomplete mutation instead of silently serving a
            # half-mutated table (see docstring).
            with self._lock:
                self.manifest.table_meta["active_mutation"] = {
                    "kind": "delete" if assignments is None else "update",
                    "assigned_cols": sorted(assignments) if assignments
                    else None,
                    "pending_part_ids": [p.part_id for p in cands],
                }
                self.manifest.save()

            def _done(part_id: int) -> None:
                # caller holds self._lock and saves right after
                am = self.manifest.table_meta.get("active_mutation")
                if am and part_id in am["pending_part_ids"]:
                    am["pending_part_ids"].remove(part_id)

            # ClickHouse runs per-part mutation tasks from a background
            # pool; here the match-count probe is ONE job over every
            # candidate part (_match_counts — one scheduler round-trip
            # instead of a wave of N count() jobs), then the
            # independent per-part rewrites overlap as concurrent Spark
            # jobs with ids allocated and commits applied in candidate
            # order — part ids and manifest history are bit-identical to
            # the sequential loop. All writes land before the first
            # commit, so a failure mid-writes leaves the table untouched
            # (new dirs deleted, intent record intact); a crash
            # mid-commits still leaves the documented
            # applied-to-a-prefix state.
            n_matches = self._match_counts(cands, hit)
            plan: list[tuple] = []  # (part, kind, n_match, new_id|None)
            writes: list = []       # write thunks, one per "rewrite" row
            for p, n_match in zip(cands, n_matches):
                if n_match == 0:
                    plan.append((p, "clean", 0, None))
                    continue
                rows_affected += n_match
                parts_rewritten += 1
                if assignments is None and n_match == p.row_count:
                    # whole part deleted: metadata-only, no write job
                    plan.append((p, "drop", n_match, None))
                    continue
                src = self._read_parts([p])
                if assignments is None:
                    new_df = src.filter(~hit)
                    n_est = max(1, p.row_count - n_match)
                else:
                    new_df = src.withColumns({
                        c: F.when(hit, e).otherwise(F.col(c)).cast(
                            self.schema[c].dataType)
                        for c, e in assignments.items()})
                    n_est = p.row_count
                with self._lock:
                    new_id = self.manifest.allocate_part_id()
                plan.append((p, "rewrite", n_match, new_id))
                writes.append(
                    lambda pid=new_id, df=new_df, ne=n_est, part=p:
                    self._write_part(pid, df, ne, partition=part.partition))
            metas = self._run_part_writes(writes)
            used = 0
            try:
                for p, kind, _n, _pid in plan:
                    if kind == "clean":
                        # no manifest save: the stale pending entry only
                        # makes a crash report conservative (part listed
                        # but clean)
                        with self._lock:
                            _done(p.part_id)
                        continue
                    if kind == "drop":
                        with self._lock:
                            self.manifest.remove([p.part_id],
                                                 retain=retain)
                            _done(p.part_id)
                            self.manifest.save()
                    else:
                        used += 1
                        with self._lock:
                            self._swap_or_remove([p.part_id],
                                                 metas[used - 1],
                                                 retain=retain)
                            _done(p.part_id)
                            self.manifest.save()
                    if not retain:
                        self._delete_part_dirs(p)
            except BaseException:
                # never-attempted rewrites would leak invisibly
                for m in metas[used:]:
                    self._delete_part_dirs(m)
                raise
            with self._lock:
                self.manifest.table_meta.pop("active_mutation", None)
                try:
                    cmd = pred._jc.toString()
                except Exception:
                    cmd = str(pred)
                self._log_mutation(
                    kind="delete" if assignments is None else "update",
                    command=cmd, parts_scanned=len(cands),
                    parts_rewritten=parts_rewritten,
                    rows_affected=rows_affected)
                self._gc_lw_deletes()  # rewrites materialized masks
                self.manifest.save()
            if retain:
                self.vacuum()
            return {"parts_scanned": len(cands),
                    "parts_rewritten": parts_rewritten,
                    "rows_affected": rows_affected}

    def lightweight_delete(self, pred_sql: str) -> dict:
        """``DELETE FROM table WHERE pred`` (ClickHouse lightweight delete,
        23.3+): rows become invisible IMMEDIATELY and physical removal is
        deferred — unlike ``delete_where`` (the ALTER ... DELETE mutation),
        which rewrites every affected part before returning. ClickHouse
        implements this with a ``_row_exists`` mask column; here the mask
        is a predicate entry committed to the manifest
        (``table_meta["lw_deletes"]``) that the read path applies as a
        NOT(pred) filter to exactly the parts live at commit time —
        metadata-only, zero rows read or written, O(1) at any table size.

        ``pred_sql`` is a SQL boolean expression over the table's columns
        (a string, not a Column — it must serialize into the manifest and
        survive reopen). NULL evaluations keep the row (SQL WHERE
        semantics). Rows inserted after the call stay visible even if they
        match, exactly ClickHouse's snapshot behavior. Every part rewrite
        (merge, OPTIMIZE, mutation, TTL) reads through the masked read
        path and so MATERIALIZES the deletion; once no live or tombstoned
        part references an entry it is garbage-collected. The delete is a
        versioned commit: ``query_at_version`` on an earlier version still
        shows the rows (and on a later one does not). Covering projections
        are mask-aware — parts with live masks fall back to raw-row
        aggregation until a rewrite cleans them.

        Caveat vs ClickHouse: the mask lives in the manifest, not in the
        part files, so manifest-less recovery (_rebuild_missing_metadata)
        loses unmaterialized deletes along with the rest of table_meta.
        ``materialize_deletes()`` (the ALTER ... APPLY DELETED MASK
        analog) force-rewrites the masked parts when that matters — also
        required before reading the table through the physical-scan
        mergetree connector, which cannot evaluate masks.

        Returns {"entry_id", "parts_masked"}.
        """
        # Validate the predicate against the schema before committing it —
        # a typo'd column must fail HERE, not on every future read.
        self._empty_df().filter(F.expr(pred_sql))
        with self._merge_lock:
            self.flush()  # cover buffered rows, like mutate()
            with self._lock:
                lw = self.manifest.table_meta.setdefault("lw_deletes", [])
                eid = max((e["id"] for e in lw), default=0) + 1
                self.manifest.commit_meta()
                entry = {
                    "id": eid,
                    "pred": pred_sql,
                    "version": self.manifest.version,
                    "parts": [p.part_id for p in self.manifest.parts],
                }
                lw.append(entry)
                self._log_mutation(
                    kind="lw_delete", command=pred_sql,
                    parts_scanned=len(entry["parts"]), parts_rewritten=0,
                    rows_affected=None, lw_entry_id=eid)
                self.manifest.save()
        return {"entry_id": eid, "parts_masked": len(entry["parts"])}

    def materialize_deletes(self) -> dict:
        """``ALTER TABLE ... APPLY DELETED MASK`` analog: force-materialize
        every lightweight delete NOW, instead of waiting for a merge or
        mutation to happen to rewrite the masked parts. Each masked live
        part is counted once under its masks; a part none of the masks
        actually touch is verifiably clean and is just stripped from the
        entries (a no-op filter — snapshot reads lose nothing); a touched
        part is rewritten (read through the masked path → sorted part
        write → atomic swap) exactly like one of mutate()'s per-part
        tasks. Entries linger while snapshot-retained tombstones still
        reference them (time travel must keep masking those versions) and
        are garbage-collected by vacuum once the tombstones age out.

        Returns {"parts_rewritten", "parts_clean", "rows_removed"}.
        """
        with self._merge_lock:
            with self._lock:
                lw = self._lw_entries()
                masked_ids = {pid for e in lw for pid in e["parts"]}
                cands = [p for p in self.manifest.parts
                         if p.part_id in masked_ids]
            retain = self.config.snapshot_retention > 0
            rewritten = clean = rows_removed = 0
            # same shape as mutate(): ONE kept-count job over every
            # masked part (_match_counts — the masks are already applied
            # inside _read_parts), then concurrent rewrites, with
            # ids/commits in candidate order (bit-identical manifest
            # history)
            kepts = self._match_counts(cands)
            plan: list[tuple] = []
            writes: list = []
            for p, n_kept in zip(cands, kepts):
                if n_kept == p.row_count:
                    plan.append((p, "clean", n_kept))
                    continue
                rewritten += 1
                rows_removed += p.row_count - n_kept
                if n_kept == 0:
                    plan.append((p, "drop", n_kept))
                    continue
                with self._lock:
                    new_id = self.manifest.allocate_part_id()
                plan.append((p, "rewrite", n_kept))
                writes.append(lambda pid=new_id, nk=n_kept, part=p:
                              self._write_part(pid, self._read_parts([part]),
                                               nk, partition=part.partition))
            metas = self._run_part_writes(writes)
            used = 0
            try:
                for p, kind, _nk in plan:
                    if kind == "clean":
                        # no mask matches this part's rows: filters are
                        # no-ops, so dropping the part from the entries
                        # changes nothing (for current reads OR
                        # snapshots) and unblocks GC
                        clean += 1
                        with self._lock:
                            for e in self._lw_entries():
                                if p.part_id in e["parts"]:
                                    e["parts"].remove(p.part_id)
                            self._gc_lw_deletes()
                            self.manifest.save()
                        continue
                    if kind == "drop":
                        with self._lock:
                            self.manifest.remove([p.part_id],
                                                 retain=retain)
                            self._gc_lw_deletes()
                            self.manifest.save()
                    else:
                        used += 1
                        with self._lock:
                            self.manifest.swap([p.part_id],
                                               metas[used - 1],
                                               retain=retain)
                            self._gc_lw_deletes()
                            self.manifest.save()
                    if not retain:
                        self._delete_part_dirs(p)
            except BaseException:
                # never-attempted rewrites would leak invisibly
                for m in metas[used:]:
                    self._delete_part_dirs(m)
                raise
            with self._lock:
                self._log_mutation(
                    kind="apply_mask", command=None,
                    parts_scanned=len(cands), parts_rewritten=rewritten,
                    rows_affected=rows_removed)
                self.manifest.save()
            if retain:
                self.vacuum()
            return {"parts_rewritten": rewritten, "parts_clean": clean,
                    "rows_removed": rows_removed}

    def _gc_lw_deletes(self) -> None:
        """Drop lightweight-delete entries no reachable part references.
        Tombstoned (snapshot-retained) parts still count as reachable —
        their versions may be read back and must stay masked — and so do
        DETACHED parts: ATTACH PARTITION brings them back masked, so
        GC'ing an entry while its last part sits detached would resurrect
        the deleted rows on re-attach. Caller holds self._lock."""
        lw = self.manifest.table_meta.get("lw_deletes")
        if not lw:
            return
        reachable = ({p.part_id for p in self.manifest.parts}
                     | set(self.manifest.tombstones)
                     | {d["part_id"] for d in
                        self.manifest.table_meta.get("detached", [])})
        kept = [e for e in lw if reachable.intersection(e["parts"])]
        if len(kept) != len(lw):
            self.manifest.table_meta["lw_deletes"] = kept

    def clear_incomplete_mutation(self) -> None:
        """Acknowledge (and drop) a crash-surviving mutation intent record
        after reconciling — see mutate()'s durability contract."""
        with self._lock:
            self.manifest.table_meta.pop("active_mutation", None)
            self.manifest.save()
        self.incomplete_mutation = None

    def delete_where(self, pred, **prune) -> dict:
        """ALTER TABLE ... DELETE WHERE pred (see mutate)."""
        return self.mutate(pred, None, **prune)

    def update_where(self, pred, assignments: dict, **prune) -> dict:
        """ALTER TABLE ... UPDATE col=expr WHERE pred (see mutate)."""
        if not assignments:
            raise ValueError("update_where requires at least one assignment")
        return self.mutate(pred, assignments, **prune)

    # -------------------------------------------------------- introspection

    def system_parts(self) -> DataFrame:
        """``system.parts`` analog (ClickHouse's ops staple): the live part
        set as a DataFrame — id, row count, disk bytes, key/ts spans,
        partition, physical columns, which skipping indexes are present.
        Metadata-sized (one row per part, straight from the manifest; no
        data files touched), so it stays a driver-local literal relation
        at any table size — exactly like ClickHouse serving system.parts
        from its in-memory part registry. Built as a VALUES LocalRelation
        (tables.values_df), not createDataFrame: local Python data plans
        as a parallelized Python RDD whose every action pays a Python
        worker round trip (seconds), while a LocalRelation is JVM-side."""
        self._drain_index_builds()  # has_token/ngram_bloom must be exact
        cols = [
            ("part_id", "bigint"), ("row_count", "bigint"),
            ("disk_bytes", "bigint"), ("min_key", "string"),
            ("max_key", "string"), ("min_ts", "bigint"),
            ("max_ts", "bigint"), ("partition", "string"),
            ("n_columns", "int"), ("has_bloom", "boolean"),
            ("has_minmax", "boolean"), ("n_projections", "int"),
            ("has_token_bloom", "boolean"), ("has_ngram_bloom", "boolean"),
            ("n_lw_delete_masks", "int"),
        ]
        with self._lock:
            lw = self._lw_entries()
            rows = [
                (p.part_id, p.row_count, p.disk_size,
                 None if p.min_key is None else str(p.min_key),
                 None if p.max_key is None else str(p.max_key),
                 int(p.min_ts) if p.min_ts is not None else None,
                 int(p.max_ts) if p.max_ts is not None else None,
                 p.partition,
                 len(p.columns) if p.columns is not None else None,
                 bool(p.bloom_hex), bool(p.col_stats),
                 len(p.proj_paths or {}),
                 bool(p.token_blooms), bool(p.ngram_blooms),
                 sum(1 for e in lw if p.part_id in e["parts"]))
                for p in self.manifest.parts
            ]
        from clickhouse_mergetree_spark.tables import values_df
        return values_df(self.spark, rows, cols)

    def explain_estimate(self, start_key=None, end_key=None,
                         partition=None) -> dict:
        """``EXPLAIN ESTIMATE`` analog: how much a read WOULD touch —
        parts/rows/bytes after manifest pruning (key range via part
        min/max + bloom, partition scope) versus the table totals —
        without building a plan or opening a file. The capacity-planning
        primitive: "will this query scan 2 parts or 2000" answered from
        metadata at any table size. Buffered (unflushed) rows are
        reported separately — they are scanned regardless of pruning."""
        self._resolve_deferred()
        with self._lock:
            parts = list(self.manifest.parts)
            total = {"parts": len(parts),
                     "rows": sum(p.row_count for p in parts),
                     "bytes": sum(p.disk_size for p in parts)}
            if partition is not None:
                parts = [p for p in parts if p.partition == str(partition)]
            if start_key is not None and end_key is not None:
                parts = [p for p in parts
                         if p.min_key is None
                         or p.overlaps_range(start_key, end_key)]
            return {
                "total": total,
                "estimate": {"parts": len(parts),
                             "rows": sum(p.row_count for p in parts),
                             "bytes": sum(p.disk_size for p in parts)},
                "buffered_rows": self._buffer_count,
            }

    def system_detached_parts(self) -> DataFrame:
        """``system.detached_parts`` analog: parts parked by DETACH
        PARTITION — id, rows, bytes, partition, and key/ts span — served
        from the manifest's parked metadata, zero files opened. The ops
        view for "what would ATTACH PARTITION bring back"."""
        cols = [
            ("part_id", "bigint"), ("row_count", "bigint"),
            ("disk_bytes", "bigint"), ("partition", "string"),
            ("min_key", "string"), ("max_key", "string"),
            ("min_ts", "bigint"), ("max_ts", "bigint"),
        ]
        with self._lock:
            rows = [
                (p.part_id, p.row_count, p.disk_size, p.partition,
                 None if p.min_key is None else str(p.min_key),
                 None if p.max_key is None else str(p.max_key),
                 int(p.min_ts) if p.min_ts is not None else None,
                 int(p.max_ts) if p.max_ts is not None else None)
                for p in self._detached_metas()
            ]
        from clickhouse_mergetree_spark.tables import values_df
        return values_df(self.spark, rows, cols)

    def _log_mutation(self, kind: str, command: str | None,
                      parts_scanned: int, parts_rewritten: int,
                      rows_affected: int | None,
                      lw_entry_id: int | None = None) -> None:
        """Append one row to the persistent mutation ledger
        (``table_meta["mutation_log"]`` — the ``system.mutations`` data).
        Caller holds ``_lock`` and saves the manifest right after, so the
        ledger row commits atomically with the mutation's own metadata."""
        log = self.manifest.table_meta.setdefault("mutation_log", [])
        log.append({
            "mutation_id": len(log) + 1,
            "kind": kind,
            "command": command,
            "parts_scanned": parts_scanned,
            "parts_rewritten": parts_rewritten,
            "rows_affected": rows_affected,
            "lw_entry_id": lw_entry_id,
            "created_at": time.time(),
        })

    def system_mutations(self) -> DataFrame:
        """``system.mutations`` analog: the mutation history as a
        DataFrame — ALTER DELETE/UPDATE rewrites, lightweight deletes,
        and APPLY DELETED MASK runs, each with its command text, part
        and row counts, and completion state. Synchronous mutations are
        born done; a lightweight delete is ``is_done`` once no live
        mask entry carries its id — i.e. every masked part has been
        rewritten (merge/mutation/materialize) and the deferred delete
        is physical, exactly ClickHouse's is_done contract for
        ``_row_exists`` mutations. Metadata-sized: straight from the
        manifest ledger, zero data files opened."""
        cols = [
            ("mutation_id", "int"), ("kind", "string"),
            ("command", "string"), ("parts_scanned", "int"),
            ("parts_rewritten", "int"), ("rows_affected", "bigint"),
            ("is_done", "boolean"), ("is_killed", "boolean"),
        ]
        with self._lock:
            live = {e["id"] for e in self._lw_entries()}
            rows = []
            for m in self.manifest.table_meta.get("mutation_log", []):
                killed = bool(m.get("killed"))
                done = (not killed and m.get("lw_entry_id") not in live
                        if m["kind"] == "lw_delete" else True)
                rows.append((m["mutation_id"], m["kind"], m.get("command"),
                             m.get("parts_scanned"),
                             m.get("parts_rewritten"),
                             m.get("rows_affected"), done, killed))
        from clickhouse_mergetree_spark.tables import values_df
        return values_df(self.spark, rows, cols)

    def kill_mutation(self, mutation_id: int) -> dict:
        """``KILL MUTATION`` analog: cancel a PENDING lightweight delete —
        its mask entry stops applying to current reads immediately, so
        rows in parts not yet rewritten become visible again, while parts
        already rewritten stay physically clean (their deletions are
        irreversible, exactly ClickHouse's contract: KILL stops further
        application, it does not undo applied parts). Synchronous
        mutations (ALTER DELETE/UPDATE rewrites, APPLY DELETED MASK runs)
        complete atomically and cannot be killed; a finished lightweight
        delete has nothing left to cancel — both refuse.

        The kill is a versioned commit: snapshot reads at versions in
        [delete, kill) still apply the mask (time travel never rewrites
        history); with snapshot retention off the entry is removed
        outright. Returns {"mutation_id", "parts_unmasked"}."""
        with self._merge_lock:
            with self._lock:
                log = self.manifest.table_meta.get("mutation_log", [])
                m = next((r for r in log
                          if r["mutation_id"] == mutation_id), None)
                if m is None:
                    raise ValueError(f"unknown mutation {mutation_id}")
                if m["kind"] != "lw_delete":
                    raise ValueError(
                        f"mutation {mutation_id} ({m['kind']!r}) is "
                        "synchronous — it completed at submit time and "
                        "cannot be killed")
                entry = next((e for e in self._lw_entries()
                              if e["id"] == m.get("lw_entry_id")), None)
                if entry is None:
                    raise ValueError(
                        f"mutation {mutation_id} is already done or "
                        "killed")
                self.manifest.commit_meta()
                live = {p.part_id for p in self.manifest.parts}
                unmasked = len(live.intersection(entry["parts"]))
                if self.config.snapshot_retention > 0:
                    entry["killed_at_version"] = self.manifest.version
                else:
                    self.manifest.table_meta["lw_deletes"] = [
                        e for e in
                        self.manifest.table_meta.get("lw_deletes", [])
                        if e["id"] != entry["id"]]
                m["killed"] = True
                self.manifest.save()
        return {"mutation_id": mutation_id, "parts_unmasked": unmasked}

    def system_columns(self) -> DataFrame:
        """``system.columns`` analog: the logical schema as a DataFrame —
        position, name, declared type, ALTER provenance (original / added
        / renamed / type-modified), declared default, structural role,
        and how many live parts still lag the declaration physically
        (missing bytes, pending rename, or pending cast — the count
        ``materialize_column`` would rewrite). Metadata-sized: one row
        per column from the manifest, zero data files touched."""
        cols = [
            ("position", "int"), ("name", "string"), ("type", "string"),
            ("origin", "string"), ("default", "string"),
            ("is_structural", "boolean"), ("parts_lagging", "int"),
            ("comment", "string"),
        ]
        with self._lock:
            tm = self.manifest.table_meta
            comments = tm.get("column_comments", {})
            added = {a["name"]: a for a in tm.get("added_columns", [])}
            renamed_to = {r["to"] for r in tm.get("renamed_columns", [])}
            modified = {m["name"] for m in tm.get("modified_columns", [])}
            structural = self._structural_cols()
            chains = self._rename_chains()
            added_names = set(added)
            original = [f.name for f in self.schema.fields
                        if f.name not in added_names]
            rows = []
            for i, f in enumerate(self.schema.fields):
                lagging = 0
                chain = chains.get(f.name, [f.name])
                for p in self.manifest.parts:
                    present = (set(p.columns) if p.columns is not None
                               else set(original))
                    phys = next((c for c in chain if c in present), None)
                    if (phys is None or phys != f.name
                            or (p.cast_cols or {}).get(phys)):
                        lagging += 1
                origin = ("added" if f.name in added_names else "original")
                if f.name in renamed_to:
                    origin += "+renamed"
                if f.name in modified:
                    origin += "+modified"
                arec = added.get(f.name, {})
                dflt = (f'DEFAULT {arec["default_expr"]}'
                        if arec.get("default_expr") is not None
                        else arec.get("default"))
                rows.append((i, f.name, f.dataType.simpleString(), origin,
                             None if dflt is None else str(dflt),
                             f.name in structural, lagging,
                             comments.get(f.name)))
        from clickhouse_mergetree_spark.tables import values_df
        return values_df(self.spark, rows, cols)

    # ----------------------------------------------------------- maintenance

    def start_background_maintenance(self) -> None:
        """R31: driver-side timer thread — flush-if-needed + merge-if-needed
        every merge_interval_seconds (reference src/merge_tree.cpp:207-226).
        Submitting jobs from a second driver thread is safe in Spark; this is
        NOT a per-executor thread."""
        if self._bg_thread is not None:
            return
        self._bg_stop.clear()

        def loop() -> None:
            while not self._bg_stop.wait(self.config.merge_interval_seconds):
                try:
                    self.trigger_flush_if_needed()
                    if self.should_trigger_merge():
                        self.perform_merge()
                except Exception as exc:
                    # the loop stays alive (like the reference's), but a
                    # failing merge is recorded, not swallowed
                    self.last_error = {"error": exc, "time": time.time()}
                    _log.warning("background maintenance of %s failed: %r",
                                 self.base_path, exc)

        self._bg_thread = threading.Thread(target=loop, daemon=True)
        self._bg_thread.start()

    def stop_background_maintenance(self) -> None:
        if self._bg_thread is not None:
            self._bg_stop.set()
            self._bg_thread.join()
            self._bg_thread = None

    # ----------------------------------------------------------------- stats

    def part_count(self) -> int:
        with self._lock:
            return len(self.manifest.parts)

    def total_rows(self) -> int:
        """R37: buffer + Σ manifest row_count — no scan
        (reference src/merge_tree.cpp:119-135; uncounted MV blocks are
        resolved on demand so the contract stays exact)."""
        self._resolve_deferred()
        with self._lock:
            return self._buffer_count + self.manifest.total_rows()

    def disk_usage(self) -> int:
        """R39 (reference src/merge_tree.cpp:155-162)."""
        with self._lock:
            return self.manifest.disk_usage()

    # ------------------------------------------------------------- lifecycle

    def close(self) -> None:
        """R40: stop maintenance, final flush (reference src/merge_tree.cpp:99-112)."""
        if self._closed:
            return
        self._closed = True
        self.stop_background_maintenance()
        self.flush()
        # land + persist any deferred index builds, then stop the pool
        self._drain_index_builds(suppress=True)
        with self._index_lock:
            pool, self._index_pool = self._index_pool, None
        if pool is not None:
            pool.shutdown(wait=True)

    def __enter__(self) -> "SparkMergeTree":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _dir_size(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
