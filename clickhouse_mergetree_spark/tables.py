"""Loaders for the driver's synthetic tables (TESTDATA.md / FIXTURES.md §2).

Every declared query receives (spark, sf_dir) and loads via these helpers so
scans stay plain ``spark.read.parquet`` — Catalyst handles column pruning and
predicate pushdown from there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def ntz_to_utc_ts(col: str):
    """TIMESTAMP_NTZ → TIMESTAMP whose epoch equals the naive value read as
    UTC, independent of the session timezone (a plain NTZ→LTZ cast would
    shift by the session offset). DuckDB reads the same parquet column as a
    naive TIMESTAMP and ``epoch_us`` treats it as UTC, so this keeps both
    engines' epoch arithmetic identical."""
    return F.timestamp_micros(F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
    ))


# Analyzed-DataFrame memo: load() costs ~0.1-0.3s of driver-side work
# (conf sets, parquet footer/schema read, .rdd partition probe) per call,
# and the bench/driver call it hundreds of times per session for the same
# (sf_dir, table). DataFrames are immutable lazy plans — reusing one is
# free and changes nothing downstream. Keyed by session id so a fresh
# session (different confs) never sees another session's plans.
_LOAD_MEMO: dict[tuple[int, str, str, bool], DataFrame] = {}


def reopen_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read back a parquet dir this session wrote (and may have read
    before): Spark's shared FileStatusCache can serve the PRE-overwrite
    file listing for a path the session listed earlier, so a
    write→re-read cycle on a fixed scratch dir fails the scan with
    FAILED_READ_FILE on the deleted part files (observed on
    q_sim_search_pq's shortlist, second run in one session).
    refreshByPath drops the stale entries — metadata-only, no job."""
    spark.catalog.refreshByPath(path)
    return spark.read.parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str,
         redistribute: bool = True) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    memo_key = (id(spark), sf_dir, name, redistribute)
    cached = _LOAD_MEMO.get(memo_key)
    if cached is not None:
        return cached
    if name == "events":
        # Older generations of events.parquet stored ts as TIMESTAMP(NANOS),
        # which the Spark 4 parquet reader rejects outright. nanosAsLong is a
        # runtime SQL conf, so set it here rather than only in our session
        # factory — callers (e.g. the driver) hand us their own vanilla
        # SparkSession. Harmless when the column is already µs.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The testdata's timestamp[us] columns carry isAdjustedToUTC=false, which
    # Spark 4 reads as TIMESTAMP_NTZ by default — a type the epoch functions
    # (unix_micros & co.) reject and that won't compare against TIMESTAMP
    # literals. Disabling NTZ inference reads them as plain TIMESTAMP with
    # the raw µs as the epoch (identical to DuckDB's epoch_us view of the
    # same bytes), AT THE SCAN — so timestamp predicates still push down to
    # parquet, which a post-read cast would forfeit.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # TIMESTAMP(NANOS) read as long ns (nanosAsLong); truncate to µs like
        # DuckDB does. `div` keeps the arithmetic in int64 — a double would
        # lose precision above 2^53.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            # timestamp[us] with no timezone reads as TIMESTAMP_NTZ, which
            # epoch functions (unix_micros & co.) reject. Normalize every
            # such column to a plain TIMESTAMP at the epoch the oracle sees.
            df = df.withColumn(field.name, ntz_to_utc_ts(field.name))
    if redistribute and name in ("documents", "embeddings") and (
            df.rdd.getNumPartitions()
            < (n := spark.sparkContext.defaultParallelism)):
        # The content tables are a SINGLE parquet row group, and Spark
        # cannot split a row group — without this, every shingling/hashing/
        # vector-math map stage is pinned to ONE core regardless of cluster
        # size. An input-sized round-robin exchange buys full-width map
        # stages (measured −33% on the content-query group at sf0.1).
        # Relational/events queries are scan- or shuffle-bound, where the
        # extra exchange only costs (measured +25%), so they keep the raw
        # scan; on well-laid-out multi-file tables the partition-count
        # condition is false and no shuffle is added anywhere.
        df = df.repartition(n)
    _LOAD_MEMO[memo_key] = df
    return df


_VIEWS_KEY = "spark_graft.registered_views_sf"


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so callers can use plain
    ``spark.sql`` (the idiomatic Spark query surface) over the dataset.
    Views are lazy — no scan happens until a query runs against one.

    Idempotent per (session, sf_dir): registering all 10 views costs
    ~1.3s of driver-side planning, and every SQL-surface query calls
    this — the memo turns the 2nd..Nth calls into a conf lookup. A
    different sf_dir re-registers (the driver and tests use one sf_dir
    per session, but correctness never depends on the memo)."""
    try:
        if (spark.conf.get(_VIEWS_KEY) == sf_dir
                and spark.catalog.tableExists(TABLE_NAMES[0])):
            # trust the memo only while the views actually exist — a
            # caller dropping a temp view would otherwise strand every
            # later register_views call on a stale memo
            return
    except Exception:
        pass
    for t in TABLE_NAMES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    spark.conf.set(_VIEWS_KEY, sf_dir)


def _sql_lit(v, typ: str) -> str:
    """Render a Python value as a Spark SQL literal of the given type."""
    t = typ.strip().lower()
    if v is None:
        return f"CAST(NULL AS {typ})"
    if t.startswith("array<"):
        inner = typ.strip()[6:-1]
        return "array(" + ", ".join(_sql_lit(x, inner) for x in v) + ")"
    if t in ("double", "float"):
        # string→float cast, not a numeric literal: repr round-trips the
        # exact IEEE value AND preserves -0.0 (a decimal literal loses
        # the zero's sign) and infinities
        return f"CAST('{float(v)!r}' AS {typ})"
    if t in ("int", "integer", "bigint", "long", "smallint", "tinyint"):
        return str(int(v))
    if t == "boolean":
        return "TRUE" if v else "FALSE"
    if t == "binary":
        return "X'" + bytes(v).hex() + "'"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def values_df(spark: SparkSession, rows: list[tuple],
              cols: list[tuple[str, str]]) -> DataFrame:
    """Small driver-side literal table as a JVM ``VALUES`` LocalRelation.

    ``spark.createDataFrame(list)`` plans local Python data as a
    parallelized Python RDD, so EVERY downstream action pays a Python
    worker round trip — measured 0.5–5 s per job in-session for a 2-row
    table, vs ~50 ms for the same rows as a VALUES clause (which Catalyst
    folds into a LocalRelation evaluated entirely JVM-side, and which can
    constant-fold/broadcast like any literal). Use for the metadata-sized
    side tables queries build per run: probe lists, rate configs,
    centroid tables, manifest snapshots. Floats render via repr (exact
    IEEE round-trip); every column is CAST to its declared type.
    """
    if not rows:
        return spark.createDataFrame(
            [], ", ".join(f"{n} {t}" for n, t in cols))
    names = ", ".join(n for n, _ in cols)
    proj = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
    vals = ", ".join(
        "(" + ", ".join(_sql_lit(v, t)
                        for v, (_, t) in zip(row, cols)) + ")"
        for row in rows
    )
    return spark.sql(f"SELECT {proj} FROM VALUES {vals} AS t({names})")
