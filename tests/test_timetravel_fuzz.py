"""Randomized time-travel fuzz: every committed version replays exactly.

Seeded walks of insert / lightweight delete / row TTL / UPDATE mutation /
optimize / FINAL on a snapshot-retaining table, unpartitioned and
partitioned; after each op the model state is recorded against
``current_version()``, and at the end EVERY recorded version is read
back via ``query_at_version`` and compared. Every other version in the
manifest log must read back as the state before or after the op that
committed it — an INSERT over several partitions, an UPDATE or a row-TTL
pass is one commit, never a half-applied snapshot.
Pins the version-consistency contract across the whole data-op surface:
lw masks are version-gated, expired/mutated/merged-away parts stay
readable as tombstones, and vacuumless retention keeps all of it exact.
"""

from __future__ import annotations

import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_mergetree_spark.engine import MergeTreeConfig, SparkMergeTree

SCHEMA = T.StructType([
    T.StructField("key", T.LongType(), False),
    T.StructField("ts", T.LongType(), False),
    T.StructField("v", T.LongType(), True),
])

CFG = dict(memtable_flush_threshold=10**9, max_parts=4,
           key_col="key", ts_col="ts", snapshot_retention=50)


@pytest.mark.parametrize("seed,partition_expr", [
    *[pytest.param(s, None, id=str(s)) for s in range(5)],
    *[pytest.param(s, "key % 3", id=f"{s}-partitioned") for s in range(5)]])
def test_timetravel_fuzz(spark, seed, partition_expr):
    rng = random.Random(3000 + seed)
    base = tempfile.mkdtemp(prefix="ttfuzz_tbl_")
    t = SparkMergeTree(spark, base, schema=SCHEMA,
                       config=MergeTreeConfig(
                           **CFG, partition_expr=partition_expr))
    rows: dict = {}
    nk = 0
    snaps = []
    try:
        for _ in range(12):
            op = rng.choice(["insert", "insert", "lw", "expire", "update",
                             "optimize", "final"])
            if op == "insert":
                batch = []
                for _ in range(rng.randrange(1, 5)):
                    rows[(nk, nk)] = rng.randrange(100)
                    batch.append((nk, nk, rows[(nk, nk)]))
                    nk += 1
                t.insert_rows(batch)
            elif op == "lw" and rows:
                lo = rng.choice(sorted(k for k, _ in rows))
                t.lightweight_delete(f"key >= {lo} AND key < {lo + 4}")
                rows = {kt: v for kt, v in rows.items()
                        if not (lo <= kt[0] < lo + 4)}
            elif op == "expire" and rows:
                cut = rng.choice(sorted(ts for _, ts in rows)) + 1
                t.expire(cut)
                rows = {kt: v for kt, v in rows.items() if kt[1] >= cut}
            elif op == "update" and rows:
                lo = rng.choice(sorted(k for k, _ in rows))
                t.update_where(
                    (F.col("key") >= lo) & (F.col("key") < lo + 6),
                    {"v": F.lit(7).cast("bigint")})
                for kt in rows:
                    if lo <= kt[0] < lo + 6:
                        rows[kt] = 7
            elif op == "optimize":
                t.optimize()
            elif op == "final":
                t.optimize(final=True)
            t.flush()
            snaps.append((t.current_version(),
                          sorted((k, ts, v)
                                 for (k, ts), v in rows.items()), op))
        def read(ver):
            return sorted(tuple(r)
                          for r in t.query_at_version(ver).collect())

        for ver, want, _op in snaps:
            assert read(ver) == want, f"version {ver} diverged"
        for ver, _ids in t.manifest.log:
            i = next(i for i, (v, _, _) in enumerate(snaps) if v >= ver)
            got, after = read(ver), snaps[i][1]
            before = snaps[i - 1][1] if i else []
            assert got in (before, after), f"version {ver} is no state"
    finally:
        t.close()
        shutil.rmtree(base, ignore_errors=True)
