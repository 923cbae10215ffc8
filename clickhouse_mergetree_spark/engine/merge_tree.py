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

import base64
import json
import logging
import os
import shutil
import threading
import time
from collections import Counter
from dataclasses import asdict, dataclass, field, replace
from math import ceil
from typing import NamedTuple

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
    Each 4 KiB bitmap comes back base64-encoded: 5,464 characters, so
    the write observation can read them from the JVM one py4j answer at
    a time (SparkMergeTree._read_bloom_observation). bloom_hex_from_row
    ORs and folds the result to the part's bitmap size."""
    return [
        F.expr(f"base64(bitmap_construct_agg(CASE WHEN "
               f"shiftright(`{prefix}p{i}`, {_BITMAP_SHIFT}) = {c} "
               f"THEN `{prefix}p{i}` & {_BITMAP_BITS - 1} END)) "
               f"AS `{prefix}{i}_{c}`")
        for i in range(BLOOM_K)
        for c in range(_BLOOM_CHUNKS)
    ]


def bloom_bitmap_names(prefix: str) -> list[str]:
    """The output names of bloom_bitmap_aggs, in its order."""
    return [f"{prefix}{i}_{c}"
            for i in range(BLOOM_K) for c in range(_BLOOM_CHUNKS)]


def bloom_hex_from_row(row, prefix: str, n_bits: int) -> str:
    """The ``n_bits`` hex bitmap from bloom_bitmap_aggs' results in
    ``row`` (a Row or a name -> base64 mapping) — byte-identical to
    bloom_to_hex over the same positions."""
    cap = b""
    for c in range(_BLOOM_CHUNKS):
        acc = 0
        for i in range(BLOOM_K):
            acc |= int.from_bytes(
                base64.b64decode(row[f"{prefix}{i}_{c}"] or ""), "little")
        cap += acc.to_bytes(_BITMAP_BITS // 8, "little")
    return bloom_fold(cap, n_bits)


class PartLayout(NamedTuple):
    """How one part's files hold the declared columns — the read-time
    transforms its scan applies (SparkMergeTree._layout). Parts with equal
    layouts read as one scan."""

    missing: tuple   # declared columns the part lacks: lazy default
    masks: tuple     # ids of the lightweight deletes that mask the part
    expired: tuple   # column-TTL / CLEAR marks: served as the default
    renames: tuple   # (declared, physical): stored under an older name
    casts: tuple     # (declared, physical ddl): stored at an older type

    def lagging(self) -> set:
        """Declared columns whose bytes lag their declaration."""
        return {*self.missing, *self.expired,
                *(c for c, _ in self.renames), *(c for c, _ in self.casts)}


class IndexNeeds(NamedTuple):
    """The derived metadata one part is to get (SparkMergeTree._index_needs):
    what _build_index computes and _attach_index merges into the part.
    ``any(needs)`` is False when there is nothing to build."""

    stats: bool = False      # min/max key and ts, row count, disk size
    key_bloom: bool = False
    minmax: tuple = ()       # columns
    sets: tuple = ()         # (column, N)
    tokens: tuple = ()       # columns
    ngrams: tuple = ()       # columns
    projections: tuple = ()  # ProjectionSpecs


class _LayoutCtx(NamedTuple):
    """The table-level inputs of SparkMergeTree._layout, built once per
    call by _layout_ctx."""

    cols: list           # declared columns, in schema order
    original: frozenset  # what a part without a column list holds
    chains: dict         # rename chains; {} when nothing was renamed
    lw: tuple            # lightweight-delete entries whose masks apply


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
    """Reference MergeTreeConfig defaults (src/merge_tree.h:17-20).

    ``SparkMergeTree`` copies the config it is given, so one config may
    build several tables (or shards) and an ALTER on one never reaches
    another. The skip-index and ``projections`` fields of the table's copy
    are its declaration plus the ALTER records in its manifest; the other
    fields are the caller's, with MODIFY SETTING overrides on top."""

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


# Skip-index kind -> the MergeTreeConfig field that lists its columns.
_INDEX_FIELDS = {"tokenbf": "token_bloom_cols", "ngrambf": "ngram_bloom_cols",
                 "minmax": "minmax_cols", "set": "set_index_cols"}

# MergeTreeConfig fields that ALTERs own: SparkMergeTree._apply_table_meta
# sets them to the constructor's values plus the manifest's records.
_ALTER_OWNED = tuple(_INDEX_FIELDS.values()) + ("projections",)


def _index_cols(cfg: MergeTreeConfig, kind: str) -> list[str]:
    """The columns ``cfg`` declares a ``kind`` skip index on."""
    held = getattr(cfg, _INDEX_FIELDS[kind])
    return [c for c, _n in held] if kind == "set" else list(held)


class SparkMergeTree:
    """One MergeTree table rooted at ``base_path``."""

    def __init__(self, spark: SparkSession, base_path: str,
                 schema: T.StructType | None = None,
                 config: MergeTreeConfig | None = None):
        self.spark = spark
        self.base_path = base_path
        # The declaration: the constructor's schema and a private copy of
        # its config. ALTERs never edit either; _apply_table_meta derives
        # the live self.schema and the ALTER-owned config fields from them.
        self._declared_schema = schema or DEFAULT_SCHEMA
        self._declared = replace(config or MergeTreeConfig())
        self.config = replace(self._declared)
        if (self.config.partition_col is not None
                and self.config.partition_expr is not None):
            raise ValueError(
                "give partition_col OR partition_expr, not both")
        for s in self.config.projections:
            self._check_projection(s)
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
        self._write_cols: dict | None = None  # see _write_columns
        self._closed = False
        # system.query_log analog: per-session plan-time read ledger
        # (kind + parts pruned/scanned). In-memory by design — ClickHouse's
        # query_log is itself a best-effort side table, not table state.
        self._query_log: list[dict] = []
        self._views: list = []  # attached MaterializedViews (see matview.py)
        os.makedirs(base_path, exist_ok=True)
        self.manifest = Manifest.load(base_path)
        self._apply_table_meta()
        self._rebuild_missing_metadata()
        self._bg_stop = threading.Event()
        self._bg_thread: threading.Thread | None = None
        # the latest failure of the background loop, or of a deferred
        # index build of a live part that a drain did not raise (close(),
        # deletion paths): {"error", "time"} or None
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

    def _apply_table_meta(self) -> None:
        """Derive the live ``self.schema`` and the ALTER-owned config fields
        (``_ALTER_OWNED``) from the declaration plus the manifest's ALTER
        records — the only code that sets them, run at open and by every
        ALTER after it edits its records, so the live table and a reopen
        cannot disagree. Other config fields are left alone, except that
        MODIFY SETTING overrides are re-applied on top.

        Column records replay drops, then adds, then renames, then
        modifies — sound because the ALTER methods keep the lists
        consistent: added records carry their POST-rename name (so a
        renamed added column materializes directly under its final name
        and its rename entry no-ops), dropped_columns lists every
        currently-dropped OR dropped-then-re-added name including retired
        rename chains (drops-first lets a re-ADD of an original column
        replay with its NEW ddl/position), renamed-away names are never
        reused by ADD/RENAME, and modify entries carry post-rename names
        (later entries win by replay order)."""
        tm = self.manifest.table_meta
        fields = list(self._declared_schema.fields)
        for d in tm.get("dropped_columns", []):
            fields = [f for f in fields if f.name != d]
        for a in tm.get("added_columns", []):
            if not any(f.name == a["name"] for f in fields):
                fields += T.StructType.fromDDL(
                    f'`{a["name"]}` {a["ddl"]}').fields
        for r in tm.get("renamed_columns", []):
            fields = [T.StructField(r["to"], f.dataType, f.nullable)
                      if f.name == r["from"] else f for f in fields]
        for mrec in tm.get("modified_columns", []):
            mtype = T.StructType.fromDDL(f'`x` {mrec["ddl"]}')[0].dataType
            fields = [T.StructField(mrec["name"], mtype, f.nullable)
                      if f.name == mrec["name"] else f for f in fields]
        self.schema = T.StructType(fields)
        c = self.config
        for name in _ALTER_OWNED:
            setattr(c, name, getattr(self._declared, name))
        for rec in tm.get("indexes", []):
            col, kind = rec["col"], rec["kind"]
            if col not in _index_cols(c, kind):
                name = _INDEX_FIELDS[kind]
                setattr(c, name, tuple(getattr(c, name)) + (
                    (col, int(rec.get("n") or 100)) if kind == "set"
                    else col,))
        for rec in tm.get("projections", []):  # JSON lists -> tuples
            if not any(s.name == rec["name"] for s in c.projections):
                c.projections = tuple(c.projections) + (
                    ProjectionSpec(rec["name"], tuple(rec["group_by"]),
                                   {k: tuple(v)
                                    for k, v in rec["aggs"].items()},
                                   tuple(rec.get("order_by", ()))),)
        # MODIFY SETTING overrides beat the constructor config, like
        # ClickHouse's table-settings persistence
        for k, v in tm.get("settings_overrides", {}).items():
            setattr(c, k, v)

    def _rebuild_missing_metadata(self) -> None:
        """Open-time builds. A part adopted by manifest-less recovery
        (``row_count < 0``) gets its stats and every configured skip index
        (reference lazily loads metadata at open, src/merge_tree.cpp:
        185-190). A healthy part gets only its blooms built under an older
        hash scheme: they make no claim, so they are rebuilt here, once,
        rather than waiting for a rewrite the merge selector may never
        schedule. Indexes a healthy part merely lacks wait for MATERIALIZE
        INDEX (the ADD INDEX contract)."""
        ctx = self._layout_ctx()
        dirty = False
        for p in self.manifest.parts:
            needs = self._index_needs(p, ctx, missing=p.row_count < 0)
            if any(needs):
                self._attach_index(p, self._build_index(p, needs, ctx))
                dirty = True
        if dirty:
            self.manifest.save()

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

    def _filter_buffer(self, keep_row, keep_col) -> int:
        """Drop buffered rows in place: driver-side tuples failing
        ``keep_row(tuple)`` and rows of buffered DataFrame blocks failing
        the Column ``keep_col``. Keeps ``_buffer_count`` exact — a
        defer_count block that slipped past the caller's pre-lock
        resolve pass is counted here first. Returns the rows removed.
        Caller holds _lock."""
        removed = 0
        if self._buffer_rows:
            kept = [r for r in self._buffer_rows if keep_row(r)]
            removed += len(self._buffer_rows) - len(kept)
            self._buffer_rows = kept
        filtered = []
        for d, n in self._buffer_dfs:
            if n is None:
                n = d.count()
                self._buffer_count += n
            fd = d.filter(keep_col)
            fn = fd.count()
            removed += n - fn
            if fn:
                filtered.append((fd, fn))
        self._buffer_dfs = filtered
        self._buffer_count -= removed
        return removed

    def flush(self) -> int | None:
        """R16: drain the buffer into new sorted parquet parts committed as
        ONE manifest swap (reference src/merge_tree.cpp:69-91,
        src/part.cpp:39-65): one part, or with ``partition_col`` set one
        part PER partition value in the buffer (parts never span
        partitions — the ClickHouse MergeTree insert contract). The
        insert is one _rewrite_parts entry that removes nothing, so it is
        all-or-nothing and one version: a CHECK violation in any split
        deletes every written split and commits nothing (ClickHouse
        validates the whole insert block before any part becomes
        visible), and no snapshot holds some of its partitions without
        the others. Part ids follow sorted-partition order. Returns the
        last committed part id, or None if the buffer was empty or every
        split evaluated to 0 rows (possible with uncounted defer_count
        blocks — a never-committed id must not leak to callers)."""
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
            # the manifest shape is identical either way. A buffer that
            # evaluates to 0 rows yields no split and commits nothing.
            pcol = self._partition_col_expr()
            values = [r[0] for r in
                      df.select(pcol.alias("__p")).distinct().collect()]
            splits = [
                (str(v), df.filter(pcol.eqNullSafe(v)),
                 max(1, n_rows // max(1, len(values))))
                for v in sorted(values, key=str)
            ]
        new = self._rewrite_parts([([], [
            (partition, lambda d=d, n=n: (d, n))
            for partition, d, n in splits])])
        return new[-1].part_id if new else None

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

    def _rewrite_parts(self, plan) -> list[PartMeta]:
        """The write-and-commit primitive every newly written part runs
        through: inserts (flush), merges, TTL, mutations and materialized
        deletes (the reference's flush and ``perform_merge``,
        src/merge_tree.cpp:69-91, :245-288).

        ``plan`` is a list of ``(old_parts, outputs)`` entries. Each
        output is a ``(partition, build)`` pair: ``build()`` returns the
        ``(df, n_rows)`` written as one new part of that partition. An
        entry removes ``old_parts`` and adds its outputs: no output is a
        drop, one output a rewrite (into the old parts' partition),
        several a partitioned INSERT. An entry that removes no parts is
        an INSERT, so its writes enforce the CHECK constraints —
        ClickHouse checks inserted rows only, never rows a merge or
        mutation rewrites.

        Part ids are allocated upfront in plan order, then every output
        is written as a CONCURRENT Spark job (a single write runs inline,
        no thread hop): independent part writes are ClickHouse's
        background-pool tasks, and a 5-partition insert costs ~max(split
        job) wall-clock instead of 5 sequential jobs. A failed write
        deletes every completed new dir and commits nothing. Zero-row
        outputs are deleted, never committed: a 0-row part has None stats
        and would poison range pruning, TTL classification and merge
        selection. The whole plan then commits as ONE version
        (_swap_parts), so a reader or a crash sees the table before the
        operation or after it, never part of it. Returns the committed
        new parts in plan order."""
        from clickhouse_mergetree_spark.parallel import run_concurrently

        with self._lock:
            ids = [[self.manifest.allocate_part_id() for _ in outputs]
                   for _old, outputs in plan]
        written: list[PartMeta] = []

        def write(pid, partition, build, insert) -> PartMeta:
            m = self._write_part(pid, *build(), partition=partition,
                                 enforce_constraints=insert)
            written.append(m)  # list.append is atomic under the GIL
            return m

        jobs = [(lambda pid=pid, partition=partition, build=build,
                 insert=not old: write(pid, partition, build, insert))
                for (old, outputs), pids in zip(plan, ids)
                for pid, (partition, build) in zip(pids, outputs)]
        try:
            metas = iter(run_concurrently(jobs,
                                          max_workers=min(8, len(jobs))))
        except BaseException:
            # BaseException, not Exception: run_concurrently re-raises
            # KeyboardInterrupt etc. from worker thunks, and skipping the
            # cleanup would leak every completed part dir invisibly (the
            # manifest never saw them)
            for m in written:
                self._delete_part_dirs(m)
            raise
        entries = []
        for old, outputs in plan:
            new = [next(metas) for _ in outputs]
            for m in new:
                if m.row_count == 0:
                    self._delete_part_dirs(m)
            entries.append((old, [m for m in new if m.row_count > 0]))
        self._swap_parts(entries)
        return [m for _old, new in entries for m in new]

    def _swap_parts(self, entries) -> None:
        """Commit every ``(old_parts, new_parts)`` entry together as ONE
        locked ``Manifest.swap`` (all removed ids, all new parts in entry
        order) → lightweight-delete GC (a rewrite read through the masked
        path, so it materialized the masks) → save: one version and one
        ``os.replace`` per operation, like the reference's single swap
        under one mutex (src/merge_tree.cpp:245-288). New parts are
        already on disk; entries that neither remove nor add a part
        commit nothing. After the commit the old dirs are deleted, unless
        snapshots retain them; then, if the commit removed parts, one
        ``vacuum()`` reclaims what fell out of the retention window.

        A failed ``swap`` deletes every new dir — nothing references
        them — before re-raising. A failed save leaves them: the
        in-memory manifest already references them.

        This is also where a new part gets its insert span
        (``PartMeta.blocks``): an entry that removes parts and adds one
        (a merge, mutation, TTL rewrite or a one-part REPLACE) gives it
        the union of the removed spans; every other new part (an INSERT
        split, ATTACH, ATTACH FROM or RESTORE) spans its own id."""
        for old, new in entries:
            if old and len(new) == 1:
                spans = [p.blocks for p in old]
                new[0].min_block = min(lo for lo, _hi in spans)
                new[0].max_block = max(hi for _lo, hi in spans)
            else:
                for m in new:
                    m.min_block = m.max_block = m.part_id
        removed = [p for old, _new in entries for p in old]
        added = [m for _old, new in entries for m in new]
        if not removed and not added:
            return
        retain = self.config.snapshot_retention > 0
        with self._lock:
            try:
                self.manifest.swap([p.part_id for p in removed], added,
                                   retain=retain)
            except BaseException:
                for m in added:
                    self._delete_part_dirs(m)
                raise
            self._gc_lw_deletes()
            self.manifest.save()
        if not retain:
            for p in removed:
                self._delete_part_dirs(p)
        elif removed:
            self.vacuum()

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

        The part's stats, key bloom, minmax and set indexes (_index_aggs)
        ride along on the write job itself via ``observe`` — no second
        read-back scan of the part. (The reference also computes metadata
        during the part write, src/part.cpp:23-28.) Two Observations: the
        scalar stats come back as one small pickled row, the key bloom's
        six 4 KiB bitmaps as base64 strings read one field at a time — no
        py4j answer on this path exceeds 8 KiB. The token and n-gram
        blooms and the projections go to the deferred pool.
        """
        import uuid

        from pyspark.sql import Observation

        wc = self._write_columns()
        path = os.path.join(self.base_path, f"part_{part_id}")
        meta = PartMeta(
            part_id=part_id, path=path, min_key=None, max_key=None,
            min_ts=0, max_ts=0, row_count=-1, disk_size=-1,
            partition=partition,
            columns=[f.name for f in df.schema.fields],
        )
        needs = self._index_needs(meta, self._layout_ctx(),
                                  specs=self.config.projections)
        n_files = max(1, ceil(n_rows / self.config.rows_per_file))
        shaped = (
            df.repartitionByRange(n_files, *wc["sort"])
            .sortWithinPartitions(*wc["sort"])
            if n_files > 1
            else df.coalesce(1).sortWithinPartitions(*wc["sort"])
        )
        tag = uuid.uuid4().hex[:8]
        metrics = self._index_aggs(needs)
        constraints = (self.constraints() if enforce_constraints else [])
        for i, c in enumerate(constraints):
            # CHECK constraints ride the same write-job observation: a
            # row violates when its predicate is not TRUE (false OR null)
            metrics.append(F.sum(
                F.when(F.expr(c["expr"]), 0).otherwise(1))
                .alias(f"viol_{i}"))
        obs = Observation(f"part_stats_{tag}")
        shaped = shaped.observe(obs, *metrics)
        if needs.key_bloom:
            # The key bloom rides the SAME write job as fixed-size bitmap
            # aggregates — no second scan of the part, and six 4 KiB
            # bitmaps back to the driver whatever the part's size.
            bloom_obs = Observation(f"part_bloom_{tag}")
            shaped = (shaped.select("*", *wc["bloom_pos"])
                      .observe(bloom_obs, *wc["bloom_aggs"])
                      .drop(*[f"__bloom_p{i}" for i in range(BLOOM_K)]))
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
        self._attach_index(meta, self._decode_index(
            needs, stats,
            self._read_bloom_observation(bloom_obs)
            if needs.key_bloom else None))
        deferred = needs._replace(stats=False, key_bloom=False,
                                  minmax=(), sets=())
        if any(deferred):
            self._submit_index_builds(meta, deferred)
        return meta

    # ------------------------------------------------- derived-index builder
    #
    # The only code that decides which derived metadata a part lacks
    # (_index_needs), computes it (_index_aggs + _decode_index on the write
    # job's observations, _build_index over the written files) and attaches
    # it (_attach_index): the part write, the deferred pool, open-time
    # recovery and stale-bloom rebuilds, MATERIALIZE INDEX and MATERIALIZE
    # PROJECTION all run through it (ClickHouse builds a skip index with
    # the same code at INSERT, merge and MATERIALIZE INDEX).

    def _index_needs(self, p: PartMeta, ctx: _LayoutCtx, *,
                     missing: bool = True, cols=None,
                     specs=()) -> IndexNeeds:
        """What part ``p`` is to get. Unknown stats (``row_count < 0``: a
        part being written, or adopted by manifest-less recovery) bring
        the stats and the key bloom; otherwise the key bloom only when it
        was built under another BLOOM_ALGO. The configured minmax, set,
        token and n-gram indexes count on the columns ``p`` holds under
        their declared name and type, unexpired (_layout: a lagging column
        makes no claim until the part's next rewrite), narrowed to
        ``cols``: each one ``p`` lacks (when ``missing``), and each bloom
        it holds under another BLOOM_ALGO. Projections: the ``specs`` ``p``
        lacks."""
        cfg = self.config
        held = set(ctx.cols) - self._layout(p, ctx).lagging()
        if cols is not None:
            held &= set(cols)
        new = p.row_count < 0

        def lacks(c: str, have) -> bool:
            return missing and c in held and c not in (have or {})

        def blooms(want, have) -> tuple:
            have = have or {}
            return tuple(c for c in want if lacks(c, have) or (
                c in held and c in have
                and have[c].get("algo") != BLOOM_ALGO))

        return IndexNeeds(
            stats=new,
            key_bloom=cfg.enable_bloom_index and (
                new or bool(p.bloom_hex) and p.bloom_algo != BLOOM_ALGO),
            minmax=tuple(c for c in cfg.minmax_cols
                         if lacks(c, p.col_stats)),
            sets=tuple((c, n) for c, n in cfg.set_index_cols
                       if lacks(c, p.col_sets)),
            tokens=blooms(cfg.token_bloom_cols, p.token_blooms),
            ngrams=blooms(cfg.ngram_bloom_cols, p.ngram_blooms),
            projections=tuple(s for s in specs
                              if s.name not in (p.proj_paths or {})),
        )

    def _write_columns(self) -> dict:
        """The part write's and the derived build's table-invariant
        Columns, built once per instance: every Column call is a py4j
        round trip, and rebuilding these on each write was most of an
        insert's round trips (PERF_NOTES, "the py4j stall"). The metrics
        that ALTERs change (minmax, set, CHECK) are built per use."""
        cols = self._write_cols
        if cols is None:
            key, ts = F.col(self._key), F.col(self._ts)
            cols = {
                "sort": [key, ts],
                "stats": [
                    F.min(key).alias("min_key"),
                    F.max(key).alias("max_key"),
                    F.min(ts).alias("min_ts"),
                    F.max(ts).alias("max_ts"),
                    F.count(F.lit(1)).alias("row_count"),
                ],
            }
            if self.config.enable_bloom_index:
                # approx_count_distinct sizes the key bloom on every path:
                # observe forbids exact DISTINCT aggregates, and sizing
                # needs only the magnitude
                cols["bloom_nd"] = (F.approx_count_distinct(key)
                                    .alias("bloom_nd"))
                cols["bloom_pos"] = bloom_position_cols(self._key,
                                                        "__bloom_")
                cols["bloom_aggs"] = bloom_bitmap_aggs("__bloom_")
            self._write_cols = cols
        return cols

    @staticmethod
    def _read_bloom_observation(obs) -> dict[str, str]:
        """The base64 bitmaps of a bloom_bitmap_aggs Observation, read
        one field at a time: a py4j answer over 8 KiB stalls ~44 ms
        (PERF_NOTES, "the py4j stall"), and Observation.get would pickle
        all six into one ~37k-character answer."""
        jrow = obs._jo.getRow()
        return {name: jrow.getString(i)
                for i, name in enumerate(bloom_bitmap_names("__bloom_"))}

    def _index_aggs(self, needs: IndexNeeds) -> list:
        """The scalar aggregates of ``needs``: the stats, the key bloom's
        distinct count, min and max per minmax column, the distinct values
        per set(N) column. They ride the part write's ``observe`` or run as
        one plain ``agg`` (_build_index), so both paths size and fill alike.
        The key bloom's bitmaps are _write_columns' ``bloom_aggs``."""
        wc = self._write_columns()
        aggs = list(wc["stats"]) if needs.stats else []
        if needs.key_bloom:
            aggs.append(wc["bloom_nd"])
        for c in needs.minmax:
            aggs += [F.min(c).alias(f"mm_min_{c}"),
                     F.max(c).alias(f"mm_max_{c}")]
        for c, _n in needs.sets:
            # distinct canonical-string values, partial+final hash agg
            # collapses occurrences map-side. The overflow cap applies
            # driver-side (> N ⇒ stored as "no claim"); the index
            # targets low-cardinality columns, so the collected set is
            # bounded by the column's vocabulary, not the part size.
            aggs.append(F.collect_set(F.col(c).cast("string"))
                        .alias(f"set_{c}"))
        return aggs

    @staticmethod
    def _decode_index(needs: IndexNeeds, row, bloom) -> dict:
        """The built metadata from _index_aggs' values in ``row`` and the
        ``bloom_aggs`` bitmaps in ``bloom`` (each a Row or a name → value
        mapping)."""
        built: dict = {}
        if needs.stats:
            built["stats"] = {k: row[k] for k in (
                "min_key", "max_key", "min_ts", "max_ts", "row_count")}
        if needs.key_bloom:
            bits = bloom_size_for(int(row["bloom_nd"]))
            built["bloom"] = (bits,
                              bloom_hex_from_row(bloom, "__bloom_", bits))
        if needs.minmax:
            built["col_stats"] = {
                c: [row[f"mm_min_{c}"], row[f"mm_max_{c}"]]
                for c in needs.minmax}
        if needs.sets:
            built["col_sets"] = {
                c: (sorted(row[f"set_{c}"])
                    if len(row[f"set_{c}"]) <= n else None)
                for c, n in needs.sets}
        return built

    def _build_index(self, p: PartMeta, needs: IndexNeeds,
                     ctx: _LayoutCtx | None = None) -> dict:
        """Compute ``needs`` from part ``p``'s files: the stats, key bloom,
        minmax and set indexes in ONE aggregate scan (_index_aggs), each
        token and n-gram bloom with _value_bloom, the projection partials
        with _build_projections. Pure compute plus deterministic-path
        projection writes — no metadata mutation, safe from any thread, so
        the deferred pool runs it unchanged; _attach_index applies the
        result. A failed build deletes the projection dirs it may have
        begun (nothing references them)."""
        built: dict = {}
        aggs = self._index_aggs(needs)
        if aggs:
            read = {self._key, self._ts, *needs.minmax,
                    *(c for c, _n in needs.sets)}
            df = self.spark.read.schema(T.StructType(
                [f for f in self.schema.fields if f.name in read])
            ).parquet(p.path)
            if needs.key_bloom:
                wc = self._write_columns()
                df = df.select("*", *wc["bloom_pos"])
                aggs += wc["bloom_aggs"]
            row = df.agg(*aggs).collect()[0]
            built = self._decode_index(needs, row, row)
        try:
            if needs.tokens:
                built["token_blooms"] = {
                    c: self._value_bloom(p.path, c, self._token_col(c))
                    for c in needs.tokens}
            if needs.ngrams:
                built["ngram_blooms"] = {
                    c: {**self._value_bloom(p.path, c, self._ngram_col(c)),
                        "n": self.config.ngram_n}
                    for c in needs.ngrams}
            if needs.projections:
                built["proj_paths"] = self._build_projections(
                    p, needs.projections, ctx)
        except BaseException:
            for spec in needs.projections:
                shutil.rmtree(
                    os.path.join(self.base_path,
                                 f"part_{p.part_id}_proj_{spec.name}"),
                    ignore_errors=True)
            raise
        return built

    @staticmethod
    def _attach_index(p: PartMeta, built: dict) -> None:
        """Merge _build_index's (or the write's) result into ``p``. Merge,
        never replace: a one-column MATERIALIZE keeps the part's other
        indexes."""
        if "stats" in built:
            for k, v in built["stats"].items():
                setattr(p, k, v)
            p.disk_size = _dir_size(p.path)
        if "bloom" in built:
            p.bloom_bits, p.bloom_hex = built["bloom"]
            p.bloom_k, p.bloom_algo = BLOOM_K, BLOOM_ALGO
        for name in ("col_stats", "col_sets", "token_blooms",
                     "ngram_blooms", "proj_paths"):
            if name in built:
                setattr(p, name, {**(getattr(p, name) or {}), **built[name]})

    def _backfill(self, cols, specs=()) -> tuple[int, int]:
        """MATERIALIZE INDEX / PROJECTION: build and attach what each live
        part lacks among the indexes on ``cols`` and the projections
        ``specs`` (_index_needs). Pending write-path builds land first: a
        part with one in flight lacks nothing. Each part's build touches
        only its own metadata, so the builds run as concurrent jobs
        (bounded by the ALTER frontier, not the table); one save at the
        end. Returns (parts built, parts skipped)."""
        self.flush()
        self._drain_index_builds()
        with self._lock:
            parts = list(self.manifest.parts)
            ctx = self._layout_ctx()

        def backfill(p: PartMeta) -> bool:
            needs = self._index_needs(p, ctx, cols=cols, specs=specs)
            if not any(needs):
                return False
            built = self._build_index(p, needs, ctx)
            with self._lock:
                self._attach_index(p, built)
            return True

        from clickhouse_mergetree_spark.parallel import run_concurrently
        done = run_concurrently([(lambda part=p: backfill(part))
                                 for p in parts],
                                max_workers=min(8, max(1, len(parts))))
        with self._lock:
            self.manifest.save()
        return sum(done), len(done) - sum(done)

    def _build_projections(self, meta: PartMeta, specs,
                           ctx: _LayoutCtx | None = None) -> dict[str, str]:
        """Build one part's files for the projections ``specs`` from its
        rows as reads serve them (``_scan`` of its ``_layout``) — without
        lightweight-delete masks: a partial counts every stored row, and
        a masked part is routed to its raw rows until a rewrite
        materializes the mask. Projections ride the part lifecycle
        (ClickHouse contract): every new part — flush, merge, mutation
        rewrite, TTL rewrite — gets its projections recomputed from the
        same rows, so they can never drift from the data. Pure compute +
        deterministic-path writes — no metadata mutation, safe from any
        thread (the deferred-build pool runs this; _drain_index_builds
        attaches the result)."""
        part_df = self._scan(
            [meta.path], self._layout(meta, ctx or self._layout_ctx()))
        proj_paths: dict[str, str] = {}
        for spec in specs:
            ppath = os.path.join(self.base_path,
                                 f"part_{meta.part_id}_proj_{spec.name}")
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

    def _value_bloom(self, path: str, col: str, values) -> dict:
        """One bloom over the exploded ``values`` array of ``col`` (the
        token and n-gram blooms, tokenbf_v1 / ngrambf_v1 analogs): one
        single-column scan of the part's files that folds the distinct
        values' positions into bitmaps (bloom_bitmap_aggs). Two cost
        levers: (1) a part is often ONE file = one scan task, so rows
        spread before the explode; (2) the value SPACE is small
        (≤ charset^n ≈ 20k distinct 3-grams, a vocabulary of tokens)
        while OCCURRENCES are ~values-per-row × rows (millions) — dedupe
        FIRST (partial+final hash agg collapses occurrences map-side),
        THEN hash only the distinct values. Pure compute — safe from any
        thread."""
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
        the contract shared by the index build and LIKE pruning (_prune).
        Strings shorter than n contribute nothing (and can't match any
        indexable needle anyway). The gram alphabet is bounded
        (≤ charset^n distinct grams), so the bitmap saturates gracefully
        on huge parts instead of growing."""
        n = self.config.ngram_n
        return F.expr(
            f"CASE WHEN length(lower({col})) < {n} "
            f"THEN CAST(array() AS ARRAY<STRING>) "
            f"ELSE array_distinct(transform("
            f"  sequence(1, length(lower({col})) - {n - 1}),"
            f"  i -> substring(lower({col}), i, {n}))) END"
        )

    def _submit_index_builds(self, meta: PartMeta,
                             needs: IndexNeeds) -> None:
        """Deferred per-part derived builds (guide §2.6): the token/ngram
        bloom builds and the projection-partial writes are extra Spark
        jobs over the part just written; running them synchronously
        serialized every flush on an indexed/projected table as write +
        re-read(s). Submit ``_build_index(meta, needs)`` to a small
        background pool instead so it overlaps the CALLER's next action
        (the next insert/flush/merge). Until a build lands the part simply
        makes no claim — a missing bloom means scan, a missing projection
        routes the reader to its raw rows (the documented
        projection-or-raw planner contract) — and every metadata
        consumer drains first (_drain_index_builds), so query results
        and persisted manifest metadata are identical to the synchronous
        build. Called LAST in the part-write path, so a part that rolls
        back can never have a pending job reading its deleted files."""
        from clickhouse_mergetree_spark.parallel import (
            with_caller_properties,
        )

        # the build's jobs belong to the operation that wrote the part
        (build,) = with_caller_properties(
            [lambda: self._build_index(meta, needs)])
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
        results to the part metadata (_attach_index), and persist the
        manifest if any landed part is already committed (a flush may
        have saved it bloom-less; the re-save restores byte-identical
        metadata to the synchronous build). Serialized under
        _index_drain_lock so a concurrent drainer returns only after
        results are ATTACHED, and that lock is never held while taking
        self._lock (the save step runs after release — no AB-BA with
        callers that drain while holding self._lock, e.g. flush's 0-row
        rollback).

        ``suppress=True`` (deletion/rollback paths) does not raise build
        errors: the part files may already be gone mid-build, and a
        missing bloom is merely 'no claim'. A failed build of a part that
        is still live is recorded in ``last_error`` and logged, as
        close() does; one of a part no longer live stays silent."""
        failed: list[tuple[PartMeta, BaseException]] = []
        applied: list[PartMeta] = []
        with self._index_drain_lock:
            with self._index_lock:
                pending, self._pending_index = self._pending_index, []
            for meta, fut in pending:
                try:
                    built = fut.result()
                except BaseException as exc:  # noqa: BLE001 — re-raised
                    failed.append((meta, exc))
                    continue
                self._attach_index(meta, built)
                applied.append(meta)
        if applied or failed:
            with self._lock:
                live = {id(p) for p in self.manifest.parts}
                if any(id(m) in live for m in applied):
                    self.manifest.save()
            if failed and not suppress:
                raise failed[0][1]
            lost = [(m, e) for m, e in failed if id(m) in live]
            if lost:
                self.last_error = {"error": lost[0][1], "time": time.time()}
                _log.warning("deferred index build of part %s of %s "
                             "failed: %r", lost[0][0].part_id,
                             self.base_path, lost[0][1])

    def wait_for_index_builds(self) -> None:
        """Public drain: block until every deferred skip-index build has
        landed in the part metadata (tests / callers who want the old
        synchronous-attach visibility)."""
        self._drain_index_builds()

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

        The rejected buffered batch is discarded — the caller fixes and
        re-inserts. On a partitioned table the whole flush is one
        all-or-nothing commit (one _rewrite_parts entry): a violation in
        any partition split leaves the manifest untouched and deletes
        every sibling split's files."""
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
            return self._prune(self.manifest.parts, key_range=(key, key),
                               point_key=key)

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
            return self._prune(self.manifest.parts, col_range=(col, lo, hi))

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
        return self._assemble(F.col(col).isin(values), values=(col, values))

    def parts_for_in(self, col: str, values) -> list[PartMeta]:
        """The parts query_in would scan (introspection/tests)."""
        with self._lock:
            return self._prune(self.manifest.parts,
                               values=(col, list(values)))

    def query_token(self, col: str, token: str) -> DataFrame:
        """Token-containment read (ClickHouse ``hasToken(col, t)`` +
        tokenbf_v1 analog): parts whose token bloom provably lacks the
        token are never listed or opened; surviving rows still apply the
        exact predicate (pruning is pure optimization, FPs only scan).
        At 100 TB this turns needle-in-haystack text search — error IDs,
        SKUs, usernames — from a full scan into touching only the parts
        that can match."""
        return self._assemble(
            F.array_contains(self._token_col(col), token.lower()),
            token=(col, token))

    def parts_for_token(self, col: str, token: str) -> list[PartMeta]:
        """The parts query_token would scan (introspection/tests)."""
        self._drain_index_builds()
        with self._lock:
            return self._prune(self.manifest.parts, token=(col, token))

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
        return self._assemble(
            F.instr(F.lower(F.col(col)), needle.lower()) > 0,
            substring=(col, needle))

    def parts_for_like(self, col: str, needle: str) -> list[PartMeta]:
        """The parts query_like would scan (introspection/tests)."""
        self._drain_index_builds()
        with self._lock:
            return self._prune(self.manifest.parts, substring=(col, needle))

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
        # row policies force the raw path below
        best = (None if self.row_policies()
                else self.routed_projection(group_by, aggs))
        if best is not None:
            return (self.query_projection(best, group_by)
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
        """The projection query_grouped serves ``group_by``/``aggs`` from
        when no row policy is active: the smallest covering aggregate
        projection (first declared on a tie), or None. Sort projections
        have no grouped form."""
        req = set(group_by)
        covering = [s for s in self.config.projections
                    if not s.order_by
                    and req <= set(s.group_by) and all(
                        out in s.aggs and s.aggs[out] == d
                        for out, d in aggs.items())]
        if not covering:
            return None
        return min(covering, key=lambda s: len(s.group_by)).name

    def _check_projection(self, spec: ProjectionSpec) -> None:
        """Refuse a projection this table cannot keep exact. Summing,
        collapsing and aggregating reads collapse the row multiset, so
        physical-row partials of an aggregate projection could never agree
        with table reads — the same reason ClickHouse refuses projections
        under FINAL. SORT projections store raw rows, which the read path
        collapses exactly like primary rows, so they are exempt."""
        if spec.aggs and self.config.mode != "dedup":
            raise ValueError(
                f"aggregate projections require mode='dedup', not "
                f"{self.config.mode!r}: this mode collapses rows at read "
                "time, so pre-aggregated physical partials would diverge "
                "from table reads")
        if spec.order_by and (spec.group_by or spec.aggs):
            raise ValueError(
                f"projection {spec.name!r}: order_by (sort projection) "
                "and group_by/aggs (aggregate projection) are mutually "
                "exclusive")

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
        self._check_projection(spec)
        if any(s.name == spec.name for s in self.config.projections):
            raise ValueError(f"projection {spec.name!r} already exists")
        names = {f.name for f in self.schema.fields}
        missing = (set(spec.group_by) | set(spec.order_by)
                   | {src for _fn, src in spec.aggs.values() if src}) - names
        if missing:
            raise ValueError(f"unknown columns {sorted(missing)}")
        with self._lock:
            recs = self.manifest.table_meta.setdefault("projections", [])
            recs.append({"name": spec.name,
                         "group_by": list(spec.group_by),
                         "aggs": {k: list(v) for k, v in spec.aggs.items()},
                         "order_by": list(spec.order_by)})
            self._apply_table_meta()
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
        built, skipped = self._backfill((), (spec,))
        return {"parts_built": built, "parts_skipped": skipped}

    def drop_projection(self, name: str) -> int:
        """``ALTER TABLE ... DROP PROJECTION`` analog: unregister the
        projection and reclaim its per-part files. Reads route back to
        raw rows from the same commit. Returns files removed. Scope:
        projections added via ``add_projection``; a projection the
        constructor's config declares raises ``KeyError`` (a reopen with
        that config would declare it again)."""
        self._spec(name)  # raises on unknown name
        if any(s.name == name for s in self._declared.projections):
            raise KeyError(f"projection {name!r} is declared by the table's "
                           "config, not added by ALTER")
        # land in-flight write-path builds first: an undrained build
        # would re-create the files after the reclaim below and
        # resurrect the dropped projection in the part metadata
        self._drain_index_builds()
        removed = 0
        with self._lock:
            recs = self.manifest.table_meta.get("projections", [])
            self.manifest.table_meta["projections"] = [
                r for r in recs if r["name"] != name]
            self._apply_table_meta()
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
        """The parts query_partition would scan (introspection/tests)."""
        with self._lock:
            return self._prune(self.manifest.parts, partition=str(value))

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
        return self._replace_partition(value, [])

    def _replace_partition(self, value, take: list[PartMeta]) -> int:
        """Drop partition ``value`` — its buffered rows, then its live
        parts — and add hardlinked copies of ``take`` (parts of another
        table) in ONE manifest swap, so no version shows the partition
        both gone and not yet replaced. Returns rows removed."""
        self._resolve_deferred()  # buffered filtering needs exact counts
        pc = self.config.partition_col
        if pc is None:
            # expression partitioning: flush first so the drop is pure
            # metadata (driver-side tuples can't evaluate the expression)
            self.flush()
        with self._merge_lock:
            with self._lock:
                victims = self._prune(self.manifest.parts,
                                      partition=str(value))
                removed = sum(p.row_count for p in victims)
                if pc is not None:
                    # buffer: drop the partition's rows in place
                    ix = [f.name for f in self.schema.fields].index(pc)
                    removed += self._filter_buffer(
                        lambda r: str(r[ix]) != str(value),
                        ~F.col(pc).eqNullSafe(value))
                # inside the buffer's lock section: no reader sees the
                # buffered rows gone while the parts are live
                self._swap_parts([(victims, [self._copy_in(p.path, asdict(p))
                                             for p in take])])
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
                self._swap_parts([(victims, [])])
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
        self.flush()
        # parked metadata snapshots must carry complete index claims,
        # and a pending build must not race the dir rename below
        self._drain_index_builds()
        with self._merge_lock:
            with self._lock:
                victims = self._prune(self.manifest.parts,
                                      partition=str(value))
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
                self.manifest.swap([p.part_id for p in victims], [])
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
                parked = self._detached_metas()
                take = self._prune(parked, partition=str(value))
                if not take:
                    return 0
                for p in take:
                    base = os.path.basename(p.path)
                    if base.startswith("detached_"):
                        new_path = os.path.join(os.path.dirname(p.path),
                                                base[len("detached_"):])
                        os.rename(p.path, new_path)
                        p.path = new_path
                taken = {p.part_id for p in take}
                self.manifest.table_meta["detached"] = [
                    asdict(p) for p in parked if p.part_id not in taken]
                self._swap_parts([([], take)])
                return sum(p.row_count for p in take)

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

        The copies arrive in ONE manifest commit. With ``replace=True``
        the destination partition's buffered rows are dropped first, and
        its live parts leave in that same commit — no version shows the
        partition absent or doubled. Returns rows attached. O(files)
        metadata + link work at any table size — the 100 TB backfill path
        (stage into a scratch table, validate, swap) never rewrites
        data."""
        if src is self:
            # self-attach would double rows; self-REPLACE would copy the
            # partition onto itself for nothing
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
            take = src._prune(src.manifest.parts, partition=str(value))
            dirty = {p.part_id for p in
                     src._parts_with_pending_transforms(include_masks=True)}
        if any(p.part_id in dirty for p in take):
            raise ValueError(
                "source partition has pending ALTER/TTL/delete transforms; "
                "run src.optimize() first")
        if replace:
            self._replace_partition(value, take)
        else:
            with self._merge_lock:
                with self._lock:
                    self._swap_parts([([], [self._copy_in(p.path, asdict(p))
                                            for p in take])])
        return sum(p.row_count for p in take)

    def _copy_in(self, src_dir: str, doc: dict) -> PartMeta:
        """Hardlink ``src_dir``'s files into a fresh part of this table and
        return ``doc`` (a part's metadata) under the new id and path, for
        the caller to commit. The projection partials are table-scoped
        and not copied: they are rebuilt at the part's next rewrite.
        Caller holds _merge_lock and _lock."""
        new_id = self.manifest.allocate_part_id()
        new_path = os.path.join(self.base_path, f"part_{new_id}")
        _link_files(src_dir, new_path)
        return PartMeta(**{**doc, "part_id": new_id, "path": new_path,
                           "proj_paths": None})

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
        self.flush()
        self._drain_index_builds()  # frozen metadata carries full claims
        with self._merge_lock:
            with self._lock:
                # value=None: the whole table (no partition hint)
                parts = self._prune(self.manifest.parts, partition=value)
                name = backup_name or f"backup_v{self.manifest.version}"
                shadow = os.path.join(self.base_path, "shadow", name)
                if os.path.exists(shadow):
                    raise ValueError(f"backup {name!r} already exists")
                os.makedirs(shadow)
                n_files = sum(
                    _link_files(p.path,
                                os.path.join(shadow, os.path.basename(p.path)))
                    for p in parts)
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
                new = [self._copy_in(os.path.join(
                    shadow, os.path.basename(pd["path"])), pd)
                    for pd in doc["parts"]]
                self._swap_parts([([], new)])
        return {"parts_restored": len(new),
                "rows": sum(p.row_count for p in new)}

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

        Schema evolution and lazy transforms make parts heterogeneous;
        ``_layout`` says what each part holds (missing ALTER-ADD columns,
        lightweight-delete masks, column-TTL/CLEAR marks, pending renames
        and casts). Parts are grouped by layout (almost always 1–2 groups)
        and each group is one ``_scan``, unioned. With no evolution this is
        exactly one multi-path parquet scan — zero overhead.

        Old parts are never rewritten by an ALTER (ClickHouse's lazy
        contract); because merges, mutations and TTL rewrites all read
        through this method, every rewrite materializes the layout — the
        rewritten part holds the declared columns, carries no expiry mark
        and belongs to no delete entry. ``lw_version`` picks the delete
        entries of a snapshot read (_lw_entries).

        ``part_id_col`` adds a column of that name holding each row's
        part id, parsed from the hidden ``_metadata.file_path`` — the
        ``part_<id>`` directory that holds the file."""
        if not parts:
            return None
        lw = self._lw_entries(lw_version)
        ctx = self._layout_ctx(lw)
        groups: dict[PartLayout, list[PartMeta]] = {}
        for p in parts:
            groups.setdefault(self._layout(p, ctx), []).append(p)
        preds = {e["id"]: e["pred"] for e in lw}
        dfs = [self._scan([p.path for p in ps], lay, preds, part_id_col)
               for lay, ps in groups.items()]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _layout_ctx(self, lw=()) -> _LayoutCtx:
        """The inputs ``_layout`` shares across parts, built once per call;
        ``lw`` are the lightweight-delete entries whose masks count."""
        tm = self.manifest.table_meta
        added = {a["name"] for a in tm.get("added_columns", [])}
        cols = [f.name for f in self.schema.fields]
        return _LayoutCtx(
            cols, frozenset(c for c in cols if c not in added),
            self._rename_chains() if tm.get("renamed_columns") else {},
            tuple(lw))

    @staticmethod
    def _layout(p: PartMeta, ctx: _LayoutCtx) -> PartLayout:
        """The one answer to "what does part ``p`` hold?" — every read,
        rewrite trigger, ALTER and derived build asks it. A part's
        physical name for a declared column is the first entry of the
        column's rename chain in its column list; a part without a column
        list (legacy, or adopted by manifest-less recovery) holds the
        original columns. Unmatched ⇒ missing (lazy default); matched
        under an older name ⇒ rename; a recorded MODIFY type ⇒ cast.
        Expiry marks and the delete masks of ``ctx.lw`` complete it."""
        present = ctx.original if p.columns is None else set(p.columns)
        missing, renames, casts = [], [], []
        for c in ctx.cols:
            chain = ctx.chains.get(c)
            pn = ((c if c in present else None) if chain is None
                  else next((n for n in chain if n in present), None))
            if pn is None:
                missing.append(c)
                continue
            if pn != c:
                renames.append((c, pn))
            if p.cast_cols and pn in p.cast_cols:
                casts.append((c, p.cast_cols[pn]))
        return PartLayout(
            tuple(missing),
            tuple(e["id"] for e in ctx.lw if p.part_id in e["parts"]),
            (tuple(sorted(set(p.expired_cols).intersection(ctx.cols)))
             if p.expired_cols else ()),
            tuple(renames), tuple(sorted(casts)))

    def _scan(self, paths: list[str], lay: PartLayout, preds=None,
              part_id_col: str | None = None) -> DataFrame:
        """One scan of parts sharing layout ``lay``, at the current schema:
        read each column under its physical name and type, then rename,
        cast, fill missing columns with their declared defaults, apply the
        delete masks (``preds``: entry id → predicate) and serve expired
        columns as their defaults."""
        added = self.manifest.table_meta.get("added_columns", [])
        defaults = {a["name"]: a for a in added}
        phys_map = dict(lay.renames)  # declared -> physical name
        cast_types = {
            logical: T.StructType.fromDDL(f"`x` {ddl}")[0].dataType
            for logical, ddl in lay.casts}
        sub = T.StructType([
            T.StructField(phys_map.get(f.name, f.name),
                          cast_types.get(f.name, f.dataType), f.nullable)
            for f in self.schema.fields if f.name not in lay.missing])
        df = self.spark.read.schema(sub).parquet(*paths)
        if part_id_col is not None:
            df = df.withColumn(part_id_col, F.regexp_extract(
                F.col("_metadata.file_path"), r"part_(\d+)/[^/]*$", 1)
                .cast("long"))
        for logical, physical in lay.renames:
            df = df.withColumnRenamed(physical, logical)
        for logical, _ddl in lay.casts:
            df = df.withColumn(
                logical, F.col(logical).cast(self.schema[logical].dataType))
        for a in added:
            if a["name"] in lay.missing:
                df = df.withColumn(a["name"], self._default_col(a))
        for mid in lay.masks:
            # SQL DELETE WHERE semantics: NULL predicate ⇒ row kept.
            # Masks filter BEFORE expired-column substitution: a live
            # DELETE predicate referencing a later-expired column must
            # evaluate against the physical bytes it matched at delete
            # time, not the substituted default (which would resurrect
            # the rows it deleted).
            df = df.filter(~F.coalesce(F.expr(preds[mid]), F.lit(False)))
        for c in lay.expired:
            df = df.withColumn(
                c, self._default_col(defaults.get(c))
                .cast(self.schema[c].dataType))
        return df.select([f.name for f in self.schema.fields]
                         + ([part_id_col] if part_id_col else []))

    @staticmethod
    def _prune(parts: list[PartMeta], *, key_range=None, point_key=None,
               partition=None, col_range=None, values=None, token=None,
               substring=None) -> list[PartMeta]:
        """The one part-skipping decision shared by every read, its
        ``parts_for_*`` twin, mutation probes and EXPLAIN ESTIMATE: the
        parts of ``parts`` that may hold a row matching every given hint.
        Each check is pure metadata and never has a false negative, so
        the caller still applies the exact predicate to surviving rows.

        - ``key_range`` (lo, hi): manifest min/max (reference
          src/part.cpp:201-203); parts without stats always survive.
        - ``point_key``: the per-part key bloom.
        - ``partition``: the part's partition tag, compared as
          ``str(value)`` — the form flush writes.
        - ``col_range`` (col, lo, hi): a minmax skip index.
        - ``values`` (col, [v, ...]): a set(N) skip index.
        - ``token`` (col, token) / ``substring`` (col, needle): the token
          and n-gram blooms, case-insensitive.

        Pure; the caller holds _lock."""
        out = list(parts)
        if key_range is not None:
            lo, hi = key_range
            out = [p for p in out
                   if p.min_key is None or p.overlaps_range(lo, hi)]
        if point_key is not None:
            out = [p for p in out if p.may_contain_key(point_key)]
        if partition is not None:
            out = [p for p in out if p.partition == str(partition)]
        if col_range is not None:
            out = [p for p in out if p.may_match_range(*col_range)]
        if values is not None:
            c, vs = values
            out = [p for p in out if p.may_match_values(c, vs)]
        if token is not None:
            c, tok = token
            out = [p for p in out if p.may_contain_token(c, tok.lower())]
        if substring is not None:
            c, needle = substring
            out = [p for p in out
                   if p.may_contain_substring(c, needle.lower())]
        return out

    def _assemble(self, pred, key_range=None, point_key=None,
                  partition=None, col_range=None, values=None, token=None,
                  substring=None) -> DataFrame:
        """The one logical read: the parts ``_prune`` keeps for the given
        hints (sort-projection routing for a ``col_range`` hint) ∪ the
        buffer, filtered by ``pred``, through the one-task gate, (key, ts)
        dedup/sort and row policies; logs one ``system.query_log`` row."""
        if token is not None or substring is not None \
                or self.config.projections:
            # land pending blooms so skip-index pruning engages, and
            # pending write-path projection builds so sort-projection
            # routing sees them (a pending part would merely fall back to
            # its raw rows — same result, but the routed plan is the
            # tested/plan-gated shape)
            self._drain_index_builds()
        proj_paths: list[str] = []
        with self._lock:
            pruned = self._prune(
                self.manifest.parts, key_range=key_range,
                point_key=point_key, partition=partition,
                col_range=col_range, values=values, token=token,
                substring=substring)
            sspec = next(
                (s for s in self.config.projections
                 if col_range is not None and s.order_by
                 and s.order_by[0] == col_range[0]), None)
            if sspec is not None:
                # sort-projection routing (ClickHouse's secondary-index
                # planner): a part whose physical layout matches the
                # current schema and carries a sort projection led by the
                # queried column serves from its RE-SORTED copy — the
                # filter pushes into monotone row-group stats, pruning
                # inside the part, which the primary sort order cannot.
                # Parts lagging the schema or under a live delete mask
                # fall back to the evolved/masked primary read path;
                # correctness never depends on materialization state.
                dirty = {p.part_id for p in
                         self._parts_with_pending_transforms(
                             include_masks=True)}
                served = [p for p in pruned
                          if p.proj_paths
                          and sspec.name in p.proj_paths
                          and p.part_id not in dirty]
                proj_paths = [p.proj_paths[sspec.name] for p in served]
                served_ids = {p.part_id for p in served}
                pruned = [p for p in pruned if p.part_id not in served_ids]
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
            "in_scan" if values is not None else
            "token_search" if token is not None else
            "like_search" if substring is not None else
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
        self._check_column(name)
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
            self.manifest.table_meta.setdefault(
                "settings_overrides", {})[name] = value
            self._apply_table_meta()
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
        """R27+R33: the cheapest adjacent run of parts (merger.py) →
        read-dedup-sort-write → atomic manifest swap → delete old part
        dirs (reference src/merge_tree.cpp:245-288 — minus its disk
        leak).

        A small merge runs as one shuffle-free task (_single_task);
        larger ones use Spark's sort-shuffle-with-spill in place of the
        reference's k-way heap (src/merger.cpp:7-59), which materialized
        everything anyway.
        """
        if self._merges_stopped:
            return False
        with self._merge_lock:
            with self._lock:
                # runs never cross partitions (ClickHouse MergeTree
                # contract)
                candidates = select_merge_candidates(self.manifest.parts)
                if not candidates:
                    return False
                selected = [p for p in self.manifest.parts
                            if p.part_id in candidates[0].part_ids]
            self._merge_groups([selected])
            return True

    def _merge_groups(self, groups: list[list[PartMeta]],
                      transform=None) -> list[PartMeta]:
        """N independent merge jobs over DISJOINT part groups (a scheduled
        merge, FINAL's per-partition merges, pending-transform rewrites,
        dedup passes): each group is read through the masked/evolved read
        path, so lightweight-delete masks and ALTER defaults materialize,
        then mode-collapsed, written concurrently and committed in group
        order (_rewrite_parts). ``transform`` (optional) maps the collapsed
        frame before the write — OPTIMIZE ... DEDUPLICATE's extra dedup
        step. Caller holds _merge_lock."""
        def merged(group: list[PartMeta]) -> tuple[DataFrame, int]:
            # _read_parts materializes evolved-column defaults into the
            # merged part (ClickHouse materializes ALTER defaults on
            # merge)
            df = self._collapse(self._single_task(
                self._read_parts(group), self._known_rows(group)))
            if transform is not None:
                df = transform(df)
            return df, sum(p.row_count for p in group)

        return self._rewrite_parts(
            [(g, [(g[0].partition, lambda g=g: merged(g))])
             for g in groups])

    def _parts_with_pending_transforms(
            self, include_masks: bool) -> list[PartMeta]:
        """Live parts whose ``_layout`` is not empty: the read path
        applies a transform the physical bytes don't reflect yet (a
        column some part lags — see ``_lagging_parts`` — or, with
        ``include_masks``, a live lightweight-delete mask). These are
        exactly the parts a rewrite would change even when it merges
        nothing. Caller holds ``_lock``."""
        ctx = self._layout_ctx(self._lw_entries() if include_masks else ())
        return [p for p in self.manifest.parts if any(self._layout(p, ctx))]

    def optimize(self, final: bool = False, partition=None) -> None:
        """R32 OPTIMIZE / ``OPTIMIZE TABLE ... FINAL``: flush, then merge
        until ≤ max_parts (reference src/merge_tree.cpp:199-205). With
        ``final=True``, keep merging until every partition is ONE part —
        ClickHouse's FINAL keyword — bypassing the merge selector: the
        point of FINAL is to force physical materialization of every
        read-time transform (mode collapse/dedup, lightweight-delete
        masks, lazy ALTER defaults) regardless of what the selector
        would pick — including single-part partitions,
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
            while True:
                with self._merge_lock:
                    with self._lock:
                        group = self._prune(self.manifest.parts,
                                            partition=partition)
                        if len(group) > 1:
                            target = group
                        else:
                            pending = self._prune(
                                self._parts_with_pending_transforms(
                                    include_masks=final),
                                partition=partition)
                            target = [pending[0]] if pending else None
                    if target is None:
                        return
                    self._merge_groups([target])
        if final:
            # Partitions merge independently (merges never cross them),
            # and single-part pending-transform rewrites touch disjoint
            # parts — each round batches every target into one concurrent
            # write pass (wall-clock ~max(partition) instead of
            # sum(partitions)).
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
          and merges take adjacent runs in insert order) this is almost
          every expired byte.
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
                ts_ix = [f.name for f in self.schema.fields].index(self._ts)
                removed_buf = self._filter_buffer(
                    lambda r: r[ts_ix] >= before_ts,
                    F.col(self._ts) >= F.lit(before_ts))

                # row_count == 0 guards legacy empty parts (written
                # before the zero-row rule of _rewrite_parts): no rows ⇒
                # droppable, and their None min/max stats must not hit
                # the comparisons
                drop = [p for p in self.manifest.parts
                        if p.row_count == 0 or p.max_ts < before_ts]
                rewrite = [p for p in self.manifest.parts
                           if p.row_count > 0
                           and p.min_ts < before_ts <= p.max_ts]

            # whole-part drops take no write job; straddling parts get
            # one filtered rewrite each; all of it commits as one version
            plan = [(drop, [])] if drop else []
            plan += [([p], [(p.partition, lambda p=p: (
                self._read_parts([p]).filter(
                    F.col(self._ts) >= F.lit(before_ts)), p.row_count))])
                for p in rewrite]
            kept = sum(m.row_count for m in self._rewrite_parts(plan))
            rows_removed = (removed_buf - kept
                            + sum(p.row_count for p in drop + rewrite))

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
        affected parts (min_ts < cutoff), with any parts between them in
        insert order, are read together through the evolved/masked read
        path, split into young (kept verbatim) and expired (grouped)
        halves, and written back as ONE part per partition — parts
        outside that run are never opened, and partitions with no
        affected part cost nothing. At 100 TB with time-correlated parts
        this touches only the expiry frontier, and
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
                by_partition: dict[str | None, list[PartMeta]] = {}
                for p in sorted(self.manifest.parts,
                                key=lambda p: (p.blocks[0], p.part_id)):
                    by_partition.setdefault(p.partition, []).append(p)
            # per partition, the insert-order run from the first to the
            # last affected part (min_ts < cutoff): the parts between them
            # are rewritten too (all their rows are young, so they pass
            # through), so the output's span overlaps no live span. One
            # run, not one per stretch of affected parts: a key with
            # expired rows in two stretches must still roll up to ONE row.
            olds = []
            for parts in by_partition.values():
                hit = [i for i, p in enumerate(parts) if p.min_ts < before_ts]
                if hit:
                    olds.append(parts[hit[0]:hit[-1] + 1])
            types = {f.name: f.dataType for f in self.schema.fields}
            others = [f.name for f in self.schema.fields
                      if f.name not in (self._key, self._ts)
                      and f.name not in aggs]

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

            # partition groups roll up independently
            metas = self._rewrite_parts([
                (parts, [(parts[0].partition, lambda parts=parts: (
                    rollup_df(parts), sum(p.row_count for p in parts)))])
                for parts in olds])
            return {"parts_replaced": sum(len(g) for g in olds),
                    "rows_before": sum(p.row_count for g in olds for p in g),
                    "rows_after": sum(m.row_count for m in metas)}

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
                    raise ValueError(
                        f"column name {name!r} was renamed away and cannot "
                        f"be reused; pick a different name")
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
                self._apply_table_meta()
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
                self._check_column(name, "drop")
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
                tm["modified_columns"] = [
                    m for m in tm.get("modified_columns", [])
                    if m["name"] != name]
                tm.get("column_comments", {}).pop(name, None)

                def strip(p: PartMeta) -> None:
                    if p.columns is not None and chain & set(p.columns):
                        p.columns = [c for c in p.columns if c not in chain]
                    if p.expired_cols and chain & set(p.expired_cols):
                        p.expired_cols = [c for c in p.expired_cols
                                          if c not in chain] or None
                    if p.cast_cols and chain & set(p.cast_cols):
                        p.cast_cols = {c: d for c, d in p.cast_cols.items()
                                       if c not in chain} or None

                self._edit_all_parts(strip)
                self._apply_table_meta()
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
                self._check_column(old, "rename")
                if any(f.name == new for f in self.schema.fields):
                    raise ValueError(f"column {new!r} already exists")
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
                # freeze physical truth: a part without a column list
                # holds "the current original columns", which stops being
                # derivable once names shift — write down what its
                # _layout says it holds before renaming
                ctx = self._layout_ctx()

                def freeze(p: PartMeta) -> None:
                    if p.columns is None:
                        lay = self._layout(p, ctx)
                        phys = dict(lay.renames)
                        p.columns = [phys.get(c, c) for c in ctx.cols
                                     if c not in lay.missing]
                    if p.expired_cols and old in p.expired_cols:
                        p.expired_cols = sorted(
                            c if c != old else new for c in p.expired_cols)

                self._edit_all_parts(freeze)
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
                self._apply_table_meta()
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
                self._check_column(name, "modify")
                if self._lw_entries():
                    raise ValueError(
                        "cannot modify while lightweight-delete masks are "
                        "live — their predicates were typed against the "
                        "old column; materialize_deletes() first")
                new_type = T.StructType.fromDDL(f"`x` {ddl}")[0].dataType
                old_type = self.schema[name].dataType
                if new_type == old_type:
                    return
                old_ddl = old_type.simpleString()
                tm = self.manifest.table_meta
                # per-part record of the PHYSICAL type still on disk —
                # keyed by the part's physical name for the column (old
                # parts may predate renames). First modify wins: the
                # bytes never changed, so the original recorded type
                # stays authoritative under repeated modifies.
                ctx = self._layout_ctx()

                def record(p: PartMeta) -> None:
                    lay = self._layout(p, ctx)
                    if name in lay.missing:
                        return  # pre-ADD part: default fill casts
                    casts = dict(p.cast_cols or {})
                    casts.setdefault(dict(lay.renames).get(name, name),
                                     old_ddl)
                    p.cast_cols = casts

                self._edit_all_parts(record)
                for a in tm.get("added_columns", []):
                    if a["name"] == name:
                        a["ddl"] = ddl  # missing parts fill at the new type
                tm.setdefault("modified_columns", []).append(
                    {"name": name, "ddl": ddl})
                self._apply_table_meta()
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
        self._check_column(name)
        self.flush()
        with self._merge_lock:
            with self._lock:
                targets = self._lagging_parts(name)
            # rewriting one lagging part never changes whether ANOTHER
            # part lags, so the frontier is fixed upfront and the
            # independent single-part rewrites overlap as one concurrent
            # pass
            self._merge_groups([[p] for p in targets])
        return {"parts_rewritten": len(targets),
                "rows_rewritten": sum(p.row_count for p in targets)}

    def _lagging_parts(self, name: str) -> list[PartMeta]:
        """Live parts whose bytes lag the declared column ``name`` — the
        parts materialize_column rewrites: ``name`` is in their
        ``_layout``'s missing (lazy default), renamed, cast or expired
        entries. Caller holds _lock."""
        ctx = self._layout_ctx()
        return [p for p in self.manifest.parts
                if name in self._layout(p, ctx).lagging()]

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
        and replayed on reopen. An index the table already has — added by
        ALTER or declared by the constructor's config — raises
        ``ValueError``."""
        self._check_column(col)
        kinds = tuple(_INDEX_FIELDS)
        if kind not in kinds:
            raise ValueError(f"unknown index kind {kind!r}; one of {kinds}")
        name = name or f"{kind}_{col}"
        with self._lock:
            recs = self.manifest.table_meta.get("indexes", [])
            if (col in _index_cols(self._declared, kind)
                    or any(r["col"] == col and r["kind"] == kind
                           for r in recs)):
                raise ValueError(f"index {kind}({col!r}) already exists")
            if any(r.get("name") == name for r in recs):
                raise ValueError(f"index named {name!r} already exists")
            self.manifest.table_meta["indexes"] = recs + [
                {"name": name, "col": col, "kind": kind, "n": n}]
            self._apply_table_meta()
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
        indexes added via ``add_index`` (manifest-tracked DDL); an index
        only the constructor's config declares raises ``KeyError`` — it
        is the caller's config to change, and a reopen with that config
        would declare it again."""
        with self._lock:
            recs = self.manifest.table_meta.get("indexes", [])
            if not any(r["col"] == col and r["kind"] == kind
                       for r in recs):
                raise KeyError(f"no index {kind}({col!r})")
            self.manifest.table_meta["indexes"] = [
                r for r in recs
                if not (r["col"] == col and r["kind"] == kind)]
            self._apply_table_meta()
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
        built, skipped = self._backfill(None if col is None else (col,))
        return {"parts_indexed": built, "parts_skipped": skipped}

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
        self._check_column(name, "clear")
        with self._merge_lock:
            self.flush()
            with self._lock:
                marked = cells = 0
                for p in self._prune(self.manifest.parts,
                                     partition=partition):
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
                for p in self._prune(
                        [p for p, _v in self.manifest.tombstones.values()],
                        partition=partition):
                    if name in (p.expired_cols or ()):
                        continue
                    p.expired_cols = sorted(
                        set(p.expired_cols or ()) | {name})
                    dirty = True
                if dirty:
                    self.manifest.save()
            return {"parts_marked": marked, "cells_cleared": cells}

    def _detached_metas(self) -> list[PartMeta]:
        """Detached (parked) parts as PartMeta handles. Caller holds
        _lock."""
        return [PartMeta(**d) for d in
                self.manifest.table_meta.get("detached", [])]

    def _edit_all_parts(self, edit) -> None:
        """Apply ``edit`` to every part a schema ALTER must keep readable:
        live parts, snapshot tombstones and detached parts. Detached parts
        re-enter the live set via ATTACH and must carry the same
        column-list strips, rename freezes and cast records as live
        parts, or ATTACH after an ALTER would serve stale bytes; their
        edits are written back to the manifest. Caller holds _lock and
        saves."""
        detached = self._detached_metas()
        for p in (list(self.manifest.parts)
                  + [p for p, _ in self.manifest.tombstones.values()]
                  + detached):
            edit(p)
        if detached:
            self.manifest.table_meta["detached"] = [
                asdict(p) for p in detached]

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

    def _check_column(self, name: str, verb: str | None = None) -> None:
        """Refuse an ALTER of ``name`` unless it is a declared column and,
        when ``verb`` is given, not a structural one (_structural_cols)."""
        if name not in self.schema.fieldNames():
            raise ValueError(f"unknown column {name!r}")
        structural = self._structural_cols() if verb else set()
        if name in structural:
            raise ValueError(
                f"cannot {verb} structural column {name!r} (sorting key / "
                f"partition / mode / index / projection columns: "
                f"{sorted(structural)})")

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
        for kind in _INDEX_FIELDS:
            cols.update(_index_cols(cfg, kind))
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
            added = self.manifest.table_meta.get("added_columns", [])
            defaults = {a["name"]: a for a in added}
            meta_expired = cells = 0
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
            # straddling parts rewrite independently: overlap the
            # cell-count aggregates, then the rewrites
            from clickhouse_mergetree_spark.parallel import run_concurrently

            srcs = [self._read_parts([p]) for p, _f, _s in todo]
            counts = run_concurrently([
                (lambda s=s, straddle=straddle: s.agg(*[
                    F.sum(F.when(F.col(self._ts) < F.lit(cut), 1)
                          .otherwise(0)).alias(c)
                    for c, cut in straddle.items()]).first())
                for s, (_p, _f, straddle) in zip(srcs, todo)],
                max_workers=min(8, len(todo)))
            for (p, full, straddle), row in zip(todo, counts):
                cells += sum(row[c] or 0 for c in straddle)
                cells += p.row_count * len(full)

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

            self._rewrite_parts([
                ([p], [(p.partition,
                        lambda src=src, p=p, full=full, straddle=straddle: (
                            rewrite_df(src, full, straddle), p.row_count))])
                for src, (p, full, straddle) in zip(srcs, todo)])
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
            return {"parts_meta_expired": meta_expired,
                    "parts_rewritten": len(todo),
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

        Durability: every rewritten part is written before anything
        commits, and the whole mutation then commits as ONE manifest
        version (_rewrite_parts). A failed write deletes the new dirs and
        leaves the table untouched; a crash leaves the version before the
        mutation or the version after it, never a table mutated on some
        parts only, so there is nothing to resume. Unlike ClickHouse's
        persisted mutation log, a mutation is not resumable anyway —
        predicates are live Column objects, not SQL text.

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
                cands = self._prune(self.manifest.parts, key_range=key_range,
                                    partition=partition, col_range=col_range)
            rows_affected = 0
            # ClickHouse runs per-part mutation tasks from a background
            # pool; here the match-count probe is ONE job over every
            # candidate part (_match_counts — one scheduler round-trip
            # instead of a wave of N count() jobs), then the
            # independent per-part rewrites overlap as concurrent Spark
            # jobs and commit as one version (_rewrite_parts).
            n_matches = self._match_counts(cands, hit)
            plan: list[tuple] = []
            for p, n_match in zip(cands, n_matches):
                if n_match == 0:
                    continue
                rows_affected += n_match
                if assignments is None and n_match == p.row_count:
                    # whole part deleted: metadata-only, no write job
                    plan.append(([p], []))
                    continue
                src = self._read_parts([p])
                if assignments is None:
                    new = (src.filter(~hit), max(1, p.row_count - n_match))
                else:
                    new = (src.withColumns({
                        c: F.when(hit, e).otherwise(F.col(c)).cast(
                            self.schema[c].dataType)
                        for c, e in assignments.items()}), p.row_count)
                plan.append(([p], [(p.partition, lambda new=new: new)]))
            self._rewrite_parts(plan)
            with self._lock:
                try:
                    cmd = pred._jc.toString()
                except Exception:
                    cmd = str(pred)
                self._log_mutation(
                    kind="delete" if assignments is None else "update",
                    command=cmd, parts_scanned=len(cands),
                    parts_rewritten=len(plan),
                    rows_affected=rows_affected)
                self.manifest.save()
            return {"parts_scanned": len(cands),
                    "parts_rewritten": len(plan),
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
                self.manifest.swap([], [])
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
            # same shape as mutate(): ONE kept-count job over every
            # masked part (_match_counts — the masks are already applied
            # inside _read_parts), then concurrent rewrites
            kepts = self._match_counts(cands)
            clean = [p for p, n in zip(cands, kepts) if n == p.row_count]
            if clean:
                # no mask matches these parts' rows: filters are no-ops,
                # so dropping them from the entries changes nothing (for
                # current reads OR snapshots) and unblocks GC
                clean_ids = {p.part_id for p in clean}
                with self._lock:
                    for e in self._lw_entries():
                        e["parts"] = [i for i in e["parts"]
                                      if i not in clean_ids]
                    self._gc_lw_deletes()
                    self.manifest.save()
            plan = [([p], [] if n == 0 else [(
                p.partition, lambda p=p, n=n: (self._read_parts([p]), n))])
                    for p, n in zip(cands, kepts) if n != p.row_count]
            rows_removed = sum(p.row_count - n for p, n in zip(cands, kepts))
            self._rewrite_parts(plan)
            with self._lock:
                self._log_mutation(
                    kind="apply_mask", command=None,
                    parts_scanned=len(cands), parts_rewritten=len(plan),
                    rows_affected=rows_removed)
                self.manifest.save()
            return {"parts_rewritten": len(plan), "parts_clean": len(clean),
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
        parts/rows/bytes after the read path's part pruning (_prune: key
        range via part min/max, plus the key bloom when start_key ==
        end_key, and partition scope) versus the table totals —
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
            ranged = start_key is not None and end_key is not None
            parts = self._prune(
                parts, key_range=(start_key, end_key) if ranged else None,
                point_key=(start_key if ranged and start_key == end_key
                           else None),
                partition=partition)
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
                self.manifest.swap([], [])
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
        (per-part ``_layout``: missing bytes, pending rename, pending cast
        or an expiry mark — the count ``materialize_column`` would
        rewrite).
        Metadata-sized: one row per column from the manifest, zero data
        files touched."""
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
            ctx = self._layout_ctx()
            lagging = Counter(c for p in self.manifest.parts
                              for c in self._layout(p, ctx).lagging())
            rows = []
            for i, f in enumerate(self.schema.fields):
                origin = ("added" if f.name in added else "original")
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
                             f.name in structural, lagging[f.name],
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
        # land + persist any deferred index builds, then stop the pool; a
        # failed build is recorded like a background failure, not lost
        try:
            self._drain_index_builds()
        except Exception as exc:
            self.last_error = {"error": exc, "time": time.time()}
            _log.warning("deferred index build of %s failed at close: %r",
                         self.base_path, exc)
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


def _link_files(src_dir: str, dst_dir: str) -> int:
    """Create ``dst_dir`` holding every regular file of ``src_dir``,
    hardlinked (immutable parts make links safe), or copied where the
    filesystem refuses the link (e.g. across devices). Returns the number
    of files."""
    os.makedirs(dst_dir)
    n = 0
    for fn in os.listdir(src_dir):
        src = os.path.join(src_dir, fn)
        if not os.path.isfile(src):
            continue
        try:
            os.link(src, os.path.join(dst_dir, fn))
        except OSError:
            shutil.copy2(src, os.path.join(dst_dir, fn))
        n += 1
    return n
