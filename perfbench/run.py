"""Benchmark of the SparkMergeTree engine and the declared-query catalogue.

Run from the repository root:

    python3 perfbench/run.py --workload engine_ingest --seed 1 --seconds 20 --trace 0

Workloads (closed loop, one client, Spark ``local[4]``):

- ``engine_ingest``: seeded batches into a table at reference defaults, a
  sync merge after each flush, lifecycle rewrites and reads beside them.
- ``catalogue``: declared queries from every operator module, each checked
  against its DuckDB oracle, timed with the noop sink.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``. The line
before it carries the run's methodology (host, sizes, flush policy, sample
counts). Progress goes to stderr. Scratch lives in ``.perfbench_work/`` and
is removed at exit; the full record of each run (methodology, metrics,
spans and per-layer self time) is written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
FLUSH_POLICY = ("one part per insert_batch (memtable_flush_threshold = batch "
                "rows); merge_parts_sync after each flush; no fsync")
WORKLOADS = ("engine_ingest", "catalogue")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test sizes")
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file the run writes (Spark, the engine, Python and the JVM
    temp dirs) inside ``work``; fix the cores. The driver memory stays at
    the program's default."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # the traced run reads every job of the run back from the store
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])


class Context:
    """What a workload needs: session, tracer, op recorder and the clock."""

    def __init__(self, args, work: str, spark, tracer):
        from measure import Ops

        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.spark = spark
        self.tracer = tracer
        self.ops = Ops(tracer)
        self.setup_s: list[float] = []
        self.info: dict = {}
        self.loop_jobs = (0, 0)

    def rounds(self, nominal_round_s: float) -> int:
        """Rounds of the timed loop. The work is fixed, sized from
        ``--seconds`` at a nominal round time measured on a 4-core host, so
        every run of a workload does the same work whatever the host's
        speed, and a faster program finishes it sooner."""
        return max(1, round(self.seconds / nominal_round_s))

    def loop_start(self) -> float:
        self._job0 = self.tracer.next_job()
        return time.perf_counter()

    def loop_end(self, t0: float) -> float:
        wall = time.perf_counter() - t0
        self.loop_jobs = (self._job0, self.tracer.next_job())
        self.loop_wall = wall
        return wall


def host_canary(spark, reps: int = 3) -> float:
    """Median seconds of a fixed synthetic job (after one warm-up run), to
    show host drift between runs and between hosts."""
    from measure import median

    def once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 4_000_000, 1, CPUS).selectExpr(
            "sum(id % 7)").collect()
        return time.perf_counter() - t0

    once()
    return median([once() for _ in range(reps)])


def run_workload(args, work: str, spec: dict) -> dict:
    from measure import median, memory_mb
    from spans import Tracer

    t0 = time.perf_counter()
    from clickhouse_mergetree_spark.scratch import scratch_root
    from clickhouse_mergetree_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS)
    t1 = time.perf_counter()
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    tracer = None
    try:
        tracer = Tracer(spark, bool(args.trace))
        tracer.add_span("session.start", t0, t1)
        canary = host_canary(spark)
        ctx = Context(args, work, spark, tracer)
        if args.workload == "catalogue":
            from catalogue import catalogue

            out = catalogue(ctx, tiny=args.tiny)
        else:
            from engine import TINY, Sizes, engine_ingest

            sizes = TINY if args.tiny else Sizes()
            out = engine_ingest(ctx, sizes)
            ctx.info["sizes"] = sizes.__dict__
        memory = memory_mb(spark)
        metrics = dict(out["metrics"])
        metrics["setup_s"] = median(ctx.setup_s)
        metrics["retained_mb"] = memory["retained_mb"]
        layers = {}
        if args.trace:
            layers = dict(out["layers"])
            tracer.resolve(*ctx.loop_jobs)
            task_s = tracer.job_totals(*ctx.loop_jobs)["task_s"]
            layers.update({
                "session.start_s": t1 - t0, "host.canary_s": canary,
                "spark.task_s": task_s,
                "spark.core_util": task_s / (ctx.loop_wall * CPUS),
                "trace.span_cost_s": tracer.bookkeeping_s
                / max(1, len(tracer.spans)),
            })
        info = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "tiny": args.tiny, "host_cpus": os.cpu_count(),
            "spark_master": f"local[{CPUS}]", "spark_version": spark.version,
            "python": platform.python_version(),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "scratch_root": os.path.relpath(scratch_root(), ROOT),
            "flush_policy": FLUSH_POLICY, "host.canary_s": canary,
            "session.start_s": t1 - t0, "setup_runs_s": ctx.setup_s,
            "attempted": ctx.ops.attempted, "failed": ctx.ops.failed,
            "error_rate": ctx.ops.failed / max(1, ctx.ops.attempted),
            "op_medians_s": {k: median(v) for k, v in ctx.ops.lat.items()},
            "op_counts": {k: ctx.ops.count(k) for k in ctx.ops.lat},
            "memory_mb": memory,
            # in a traced run too: sweep.py measures the tracing overhead
            # from them
            "end_to_end": metrics,
            **ctx.info,
        }
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        values = layers if args.trace else metrics
        # a layer the workload does not exercise reads 0; an end-to-end
        # metric must always be measured
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing and not args.trace:
            raise RuntimeError(f"workload produced no {missing}")
        result = {
            "correct": ctx.ops.failed == 0 and ctx.ops.attempted > 0,
            "attempted": ctx.ops.attempted,
            "failed": ctx.ops.failed,
            "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                    "unit": m["unit"]} for m in wanted},
        }
        record(args, info, result, tracer, ctx.ops)
        return {"methodology": info, "result": result}
    finally:
        if tracer is not None:
            tracer.close()
        spark.stop()
        if proc is not None:
            # the JVM exits when its stdin closes; wait for it
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def record(args, info: dict, result: dict, tracer, ops) -> None:
    """Write the run's full record to .perfbench_out/."""
    from measure import log

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    tracer.dump(path, {"methodology": info, "result": result,
                       "latencies_s": ops.lat})
    if args.trace:
        log("self time by span (s):")
        for name, row in sorted(tracer.self_times().items(),
                                key=lambda kv: -kv[1]["self_s"]):
            log(f"  {name:<32} n={row['count']:<5} total={row['total_s']:9.3f}"
                f" self={row['self_s']:9.3f}")


def main(argv=None) -> int:
    from measure import log

    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "clickhouse_mergetree_spark")):
        log(f"perfbench: no clickhouse_mergetree_spark package under {ROOT}")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        configure_env(work)
        out = run_workload(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"methodology": out["methodology"]}, default=str))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
