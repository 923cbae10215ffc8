"""Timing, percentiles and correctness counting shared by the workloads."""

from __future__ import annotations

import resource
import sys
import time

# A tail is the highest of these percentiles with at least ten samples
# beyond it; with fewer than 20 samples no tail is supported and the
# median is reported in its place (the result says which was used).
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs: list[float]) -> float:
    return percentile(xs, 50.0)


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest supported tail percentile."""
    n = len(xs)
    for p in TAIL_LADDER:
        if n * (1 - p / 100.0) >= 10:
            return percentile(xs, p), p
    return median(xs), 50.0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Ops:
    """Runs and times the workload's operations and counts checks. With
    tracing on, every operation runs inside a span."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.last_s = 0.0  # latency of the latest operation
        self._seq = 0

    def run(self, kind: str, fn, **attrs):
        """Time ``fn(span)``; return (result, span or None)."""
        self._seq += 1
        t0 = time.perf_counter()
        with self.tracer.span(kind, op=self._seq, **attrs) as sp:
            out = fn(sp)
        dt = time.perf_counter() - t0
        self.lat.setdefault(kind, []).append(dt)
        self.last_s = dt
        return out, sp

    def count(self, kind: str) -> int:
        return len(self.lat.get(kind, ()))

    def busy_s(self, kind: str) -> float:
        return sum(self.lat.get(kind, ()))

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"perfbench: MISMATCH {what}")

    def fail(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        log(f"perfbench: FAILED {what}: {type(exc).__name__}: {exc}")


def p50_metric(prefix: str, xs: list[float], info: dict) -> dict:
    """``<prefix>_p50_s``; the sample count and the highest tail the sample
    supports go to the methodology block."""
    value, pct = tail(xs)
    info[f"{prefix}_samples"] = len(xs)
    info[f"{prefix}_tail_s"] = value
    info[f"{prefix}_tail_pct"] = pct
    return {f"{prefix}_p50_s": median(xs)}


def memory_mb(spark) -> dict:
    """Memory of the run in MB. ``retained_mb``: what the Spark JVM still
    holds after a full collection at the end of the run (heap and non-heap
    in use), plus this process's high-water resident size. Also the JVM's
    resident high-water size and peak used heap, which follow the
    collector's heap sizing as much as the program."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm_hwm = 0.0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_hwm = int(line.split()[1]) / 1024.0
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    peak_heap = sum(p.getPeakUsage().getUsed()
                    for p in mf.getMemoryPoolMXBeans()
                    if p.getType().toString() == "Heap memory") / 2**20
    mem = mf.getMemoryMXBean()
    for _ in range(2):
        mem.gc()
    live = (mem.getHeapMemoryUsage().getUsed()
            + mem.getNonHeapMemoryUsage().getUsed()) / 2**20
    return {"python_rss_mb": py, "jvm_rss_mb": jvm_hwm,
            "jvm_peak_heap_mb": peak_heap, "jvm_live_mb": live,
            "retained_mb": live + py}
