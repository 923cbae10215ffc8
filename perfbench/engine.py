"""The engine workload ``engine_ingest``: writes, with reads beside them.

It drives ``SparkMergeTree`` through its public methods only, keeps a
Python model of what the table must hold, and checks every timed read
against it. Keys are ``k%06d`` over a space of ``KEYSPACE`` ids: inserted
keys are uniform over the even ids. Timestamps are unique, so no two rows
share ``(key, ts)``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from clickhouse_mergetree_spark.engine.manifest import Manifest
from clickhouse_mergetree_spark.engine.merge_tree import (
    MergeTreeConfig,
    SparkMergeTree,
)

from measure import Ops, median, p50_metric

KEYSPACE = 100_000
RANGE_WIDTH = 0.01  # share of the key space a range scan covers
# Nominal seconds per batch on a 4-core host; it sizes the fixed work of a
# run from --seconds (see Context.rounds).
INGEST_CYCLE_S = 1.8


@dataclass(frozen=True)
class Sizes:
    batch_rows: int = 5_000   # rows per insert_batch (= one flushed part)
    ingest_seed_parts: int = 11  # parts built before the ingest loop
    reopen_checks: int = 10   # lookups checked after close and reopen


TINY = Sizes(batch_rows=300, ingest_seed_parts=11, reopen_checks=3)


def key(i: int) -> str:
    return f"k{i:06d}"


class Model:
    """What the table must hold: key -> {timestamp: value}."""

    def __init__(self):
        self.rows: dict[str, dict[int, str]] = {}

    def insert(self, batch: pa.Table) -> None:
        d = batch.to_pydict()
        for k, v, t in zip(d["key"], d["value"], d["timestamp"]):
            self.rows.setdefault(k, {})[t] = v

    def update(self, lo: int, hi: int, value: str) -> None:
        for i in range(lo, hi + 1):
            versions = self.rows.get(key(i))
            if versions:
                for t in versions:
                    versions[t] = value

    def delete(self, lo: int, hi: int) -> None:
        for i in range(lo, hi + 1):
            self.rows.pop(key(i), None)

    def expire(self, cutoff: int) -> None:
        for k in list(self.rows):
            versions = self.rows[k]
            for t in [t for t in versions if t < cutoff]:
                del versions[t]
            if not versions:
                del self.rows[k]

    def lookup(self, k: str) -> list[tuple[int, str]]:
        return sorted(self.rows.get(k, {}).items())

    def count(self, lo: int, hi: int) -> int:
        return sum(len(self.rows.get(key(i), ())) for i in range(lo, hi + 1))

    def total(self) -> int:
        return sum(len(v) for v in self.rows.values())

    def user_bytes(self) -> int:
        """Bytes of live user data: key and value UTF-8 plus an 8-byte ts."""
        return sum(len(k.encode()) * len(v)
                   + sum(len(x.encode()) + 8 for x in v.values())
                   for k, v in self.rows.items())


def make_batches(rng, n: int, rows: int, out_dir: str) -> list:
    """``n`` seeded batches written as parquet: (path, arrow table)."""
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for b in range(n):
        ids = rng.integers(0, KEYSPACE // 2, rows) * 2
        ts = b * rows + rng.permutation(rows)
        t = pa.table({
            "key": [key(int(i)) for i in ids],
            "value": [f"v{b}.{j}" for j in range(rows)],
            "timestamp": pa.array(ts, pa.int64()),
        })
        path = os.path.join(out_dir, f"batch_{b:05d}.parquet")
        pq.write_table(t, path)
        out.append((path, t))
    return out


class EngineRun:
    """The table under test, its model and the counters of a run."""

    def __init__(self, ctx, sizes: Sizes):
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.ops: Ops = ctx.ops
        self.sizes = sizes
        self.rng = np.random.default_rng(ctx.seed)
        self.model = Model()
        self.path = os.path.join(ctx.work, "table")
        self.config = MergeTreeConfig(
            memtable_flush_threshold=sizes.batch_rows, max_parts=10)
        self.mt = SparkMergeTree(self.spark, self.path, config=self.config)
        self.rows_in = 0
        self.merges = 0
        self.parts_in = 0
        self.parts_touched = 0
        self.bloom = [0, 0]  # [candidate parts, parts the bloom skipped]
        self.manifest_load: list[float] = []
        self.manifest_prune: list[float] = []

    # -- operations ---------------------------------------------------------

    def insert(self, path: str, batch: pa.Table, kind: str = "insert") -> None:
        df = self.spark.read.parquet(path)
        n = batch.num_rows
        self.ops.run(kind, lambda sp: self.mt.insert_batch(df, row_count=n))
        self.model.insert(batch)
        self.rows_in += n

    def merge(self) -> None:
        """One synchronous merge round, when the reference trigger fires."""
        if not self.mt.should_trigger_merge():
            return
        before = self.mt.part_count()
        ran, _ = self.ops.run("merge", lambda sp: self.mt.merge_parts_sync())
        if ran:
            self.merges += 1
            self.parts_in += before - self.mt.part_count() + 1

    def point(self, i: int, kind: str = "point") -> float:
        k = key(i)

        def op(sp):
            with self.tr.span("read.plan"):
                df = self.mt.query_key(k)
            with self.tr.span("read.exec"):
                return df.collect()

        rows, sp = self.ops.run(kind, op)
        dt = self.ops.last_s
        got = [(r["timestamp"], r["value"]) for r in rows]
        self.ops.check(got == self.model.lookup(k), f"query_key({k!r})")
        if sp is not None:
            sp["rows"] = len(rows)
            self.probe_manifest(k)
        return dt

    def range(self, kind: str = "range") -> float:
        w = max(1, int(KEYSPACE * RANGE_WIDTH))
        lo = int(self.rng.integers(0, KEYSPACE - w))
        hi = lo + w - 1

        def op(sp):
            with self.tr.span("read.plan"):
                df = self.mt.query(key(lo), key(hi)).groupBy().count()
            with self.tr.span("read.exec"):
                return df.collect()[0][0]

        n, sp = self.ops.run(kind, op)
        dt = self.ops.last_s
        self.ops.check(n == self.model.count(lo, hi),
                       f"query({key(lo)!r}, {key(hi)!r}).count()")
        if sp is not None:
            sp["rows"] = n
        return dt

    def probe_manifest(self, k: str) -> None:
        """Manifest layer, outside the timed operation: load the manifest,
        prune it to ``k`` and count the parts the key bloom then skips."""
        with self.tr.span("manifest.load") as sp:
            m = Manifest.load(self.path)
        self.manifest_load.append(sp["t1"] - sp["t0"])
        with self.tr.span("manifest.prune") as sp:
            cands = m.prune(k, k)
        self.manifest_prune.append(sp["t1"] - sp["t0"])
        self.bloom[0] += len(cands)
        self.bloom[1] += sum(not p.may_contain_key(k) for p in cands)

    def rewrite(self, n: int, cycle: int) -> None:
        """One lifecycle rewrite, rotating UPDATE, lightweight DELETE and
        TTL expiry. UPDATE and DELETE hit a 0.5 % key range."""
        w = KEYSPACE // 200
        lo = int(self.rng.integers(0, KEYSPACE - w))
        hi = lo + w - 1
        which = n % 3
        if which == 0:
            value = f"u{cycle}"
            pred = F.col("key").between(key(lo), key(hi))
            res, _ = self.ops.run("update", lambda sp: self.mt.update_where(
                pred, {"value": F.lit(value)}, key_range=(key(lo), key(hi))))
            self.model.update(lo, hi, value)
            self.parts_touched += res["parts_rewritten"]
        elif which == 1:
            sql = f"key >= '{key(lo)}' AND key <= '{key(hi)}'"
            res, _ = self.ops.run(
                "delete", lambda sp: self.mt.lightweight_delete(sql))
            self.model.delete(lo, hi)
            self.parts_touched += res["parts_masked"]
        else:
            # keep the newest 10 batches' timestamps
            cutoff = max(0, cycle - 10) * self.sizes.batch_rows
            res, _ = self.ops.run(
                "expire", lambda sp: self.mt.expire(cutoff))
            self.model.expire(cutoff)
            self.parts_touched += (res["parts_dropped"]
                                   + res["parts_rewritten"])

    # -- checks and closing -------------------------------------------------

    def check_total(self, what: str) -> None:
        self.ops.check(self.mt.total_rows() == self.model.total(),
                       f"total_rows() {what}")

    def close_and_reopen(self) -> None:
        with self.tr.span("close"):
            self.mt.close()
        with self.tr.span("reopen"):
            self.mt = SparkMergeTree(self.spark, self.path, config=self.config)
        self.check_total("after reopen")
        keys = sorted(self.model.rows)
        picks = self.rng.choice(len(keys), min(self.sizes.reopen_checks,
                                               len(keys)), replace=False)
        for p in picks:
            k = keys[int(p)]
            got = [(r["timestamp"], r["value"])
                   for r in self.mt.query_key(k).collect()]
            self.ops.check(got == self.model.lookup(k),
                           f"query_key({k!r}) after reopen")

    def query_log_ratio(self) -> tuple[int, int]:
        """(parts scanned, parts live) over this instance's reads."""
        rows = self.mt.system_query_log().collect()
        return (sum(r["parts_scanned"] for r in rows),
                sum(r["parts_total"] for r in rows))

    def manifest_state(self) -> tuple[int, int]:
        """(version, bytes) of the committed manifest."""
        m = Manifest.load(self.path)
        return m.version, os.path.getsize(m.file_path)


def engine_ingest(ctx, sizes: Sizes) -> dict:
    """Seeded batches into a table at reference defaults with a sync merge
    after each flush. After every batch: a lookup of a key it holds and a
    1 % range scan; after every third batch one lifecycle rewrite. Ends
    with OPTIMIZE FINAL, close and reopen."""
    t0 = time.perf_counter()
    run = EngineRun(ctx, sizes)
    n = ctx.rounds(INGEST_CYCLE_S)
    batches = make_batches(run.rng, sizes.ingest_seed_parts + n,
                           sizes.batch_rows, os.path.join(ctx.work, "in"))
    # Seed the table up to the merge trigger, then warm the other operation
    # kinds once (untimed) so the loop starts in steady state.
    for path, b in batches[:sizes.ingest_seed_parts]:
        run.insert(path, b, kind="setup.insert")
    run.merge()
    run.point(int(run.rng.integers(0, KEYSPACE // 2)) * 2, kind="setup.read")
    run.range(kind="setup.read")
    ctx.setup_s.append(time.perf_counter() - t0)

    version0, _ = run.manifest_state()
    loop0 = ctx.loop_start()
    read_s = []
    for r in range(n):
        cycle = sizes.ingest_seed_parts + r
        path, b = batches[cycle]
        run.insert(path, b)
        run.merge()
        k = b.column("key")[int(run.rng.integers(0, b.num_rows))].as_py()
        read_s.append(run.point(int(k[1:])) + run.range())
        if r % 3 == 2:
            run.rewrite(r // 3, cycle)
    wall = ctx.loop_end(loop0)
    version1, manifest_bytes = run.manifest_state()
    scanned, live = run.query_log_ratio()

    with ctx.tracer.span("optimize"):
        run.mt.optimize(final=True)
    run.check_total("after optimize(final=True)")
    stored = run.mt.disk_usage() / run.model.user_bytes()
    run.close_and_reopen()
    run.mt.close()

    metrics = {
        "throughput_per_s": n * sizes.batch_rows / wall,
        **p50_metric("main", ctx.ops.lat.get("insert", []), ctx.info),
        **p50_metric("side", read_s, ctx.info),
    }
    ctx.info.update({
        "loop_wall_s": wall, "batches": n, "rows_inserted": run.rows_in,
        "merges": run.merges, "rewrites": n // 3,
        "final_rows": run.model.total(),
        "stored_bytes_per_user_byte": stored,
        "input_bytes": sum(os.path.getsize(p) for p, _ in batches),
    })
    layers = engine_layers(ctx, run, version1 - version0, manifest_bytes,
                           scanned, live, stored)
    return {"metrics": metrics, "layers": layers}


def engine_layers(ctx, run: EngineRun, commits: int, manifest_bytes: int,
                  scanned: int, live: int, stored: float) -> dict:
    """Per-layer numbers of the engine workload (traced runs only)."""
    if not ctx.tracer.enabled:
        return {}
    tr, ops = ctx.tracer, ctx.ops
    tr.resolve()

    def per_op(names: tuple[str, ...]) -> dict:
        st = tr.stats(tr.named(*names))
        n = st["count"] or 1
        return {k: st[k] / n for k in ("jobs", "task_s", "output_bytes")}

    flush_kinds = ("insert", "setup.insert")
    flush = per_op(flush_kinds)
    merge = per_op(("merge",))
    rewrite = per_op(("update", "delete", "expire"))
    n_flush = sum(ops.count(k) for k in flush_kinds)
    n_merge = ops.count("merge")
    n_rewrite = sum(ops.count(k) for k in ("update", "delete", "expire"))
    first_write = flush["output_bytes"] * n_flush
    all_writes = (first_write + merge["output_bytes"] * n_merge
                  + rewrite["output_bytes"] * n_rewrite)
    read_spans = tr.named("point", "range")
    reads = tr.stats(read_spans)
    n_reads = reads["count"] or 1
    rows_out = sum(s.get("rows", 0) for s in read_spans)

    def child_median(name: str) -> float:
        ids = {s["id"] for s in read_spans}
        xs = [s["t1"] - s["t0"] for s in tr.named(name) if s["parent"] in ids]
        return median(xs) if xs else 0.0

    return {
        "flush.count": n_flush,
        "flush.busy_s": sum(ops.busy_s(k) for k in flush_kinds),
        "flush.jobs": flush["jobs"],
        "flush.task_s": flush["task_s"],
        "flush.bytes_written": flush["output_bytes"],
        "merge.count": n_merge,
        "merge.busy_s": ops.busy_s("merge"),
        "merge.parts_in": run.parts_in,
        "merge.jobs": merge["jobs"],
        "merge.bytes_rewritten": merge["output_bytes"],
        "write_amp": all_writes / first_write if first_write else 0.0,
        "write.bytes_first": first_write,
        "rewrite.count": n_rewrite,
        "rewrite.busy_s": sum(ops.busy_s(k)
                              for k in ("update", "delete", "expire")),
        "rewrite.jobs": rewrite["jobs"],
        "rewrite.parts_touched": run.parts_touched,
        "rewrite.bytes_rewritten": rewrite["output_bytes"],
        "manifest.commits": commits,
        "manifest.bytes": manifest_bytes,
        "manifest.load_s": median(run.manifest_load)
        if run.manifest_load else 0.0,
        "manifest.prune_s": median(run.manifest_prune)
        if run.manifest_prune else 0.0,
        "read.count": sum(ops.count(k) for k in ("point", "range")),
        "read.plan_s": child_median("read.plan"),
        "read.catalyst_s": median([tr.catalyst_s(s) for s in read_spans])
        if read_spans else 0.0,
        "read.exec_s": child_median("read.exec"),
        "read.jobs": reads["jobs"] / n_reads,
        "read.task_s": reads["task_s"] / n_reads,
        "read.parts_scanned_ratio": scanned / live if live else 0.0,
        "read.parts_total": live,
        "read.bloom_skip_ratio": run.bloom[1] / run.bloom[0]
        if run.bloom[0] else 0.0,
        "read.bloom_candidates": run.bloom[0],
        "read.rows_examined_per_row": reads["input_records"] / rows_out
        if rows_out else 0.0,
        "read.rows_returned": rows_out,
        "storage.bytes_per_user_byte": stored,
    }
