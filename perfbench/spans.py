"""Spans around the benchmark's calls into the program, and the Spark work
each span caused.

A span records its name, start, end, parent and op id, plus the window of
Spark job ids ``[job0, job1)`` the scheduler handed out while it was open.
The benchmark is a single closed-loop client, so every job started in that
window belongs to the span, including jobs the program starts from its own
worker threads (those do not inherit the caller's job group, so job groups
would miss them). Inside a timed operation tracing costs two py4j calls;
job and stage metrics are read from Spark's status store once, after the
timed loop, by ``resolve()``.

Catalyst phase times come from a ``QueryExecutionListener``: Spark hands it
the ``QueryExecution`` that actually ran (for a ``df.write`` that is the
write command's own, not ``df``'s), and the listener keeps its planning
tracker's phases. An execution belongs to the span open when its first
phase started.
"""

from __future__ import annotations

import contextlib
import json
import time

from py4j.protocol import Py4JJavaError


class PhaseListener:
    """Keeps (first phase start, Catalyst seconds) of every query execution
    Spark reports. Its callbacks run on Spark's listener thread."""

    def __init__(self):
        self.executions: list[tuple[float, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):
        it = qe.tracker().phases().iterator()
        start, total_ms = None, 0
        while it.hasNext():
            phase = it.next()._2()
            total_ms += phase.durationMs()
            t = phase.startTimeMs() / 1e3
            start = t if start is None else min(start, t)
        if start is not None:
            self.executions.append((start, total_ms / 1e3))

    def onFailure(self, func_name, qe, exc):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.jobs: dict[int, dict] = {}
        self.bookkeeping_s = 0.0  # time spent opening and closing spans
        self._stack: list[dict] = []
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        # perf_counter -> epoch seconds, to line spans up with job times
        self._epoch = time.time() - time.perf_counter()
        self._listeners = None
        self.phases = PhaseListener()
        if enabled:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(spark.sparkContext._gateway)
            self._listeners = spark._jsparkSession.listenerManager()
            self._listeners.register(self.phases)

    def close(self) -> None:
        """Unregister the phase listener (before the session stops)."""
        if self._listeners is not None:
            self._sc.listenerBus().waitUntilEmpty()
            self._listeners.unregister(self.phases)
            self._listeners = None

    def next_job(self) -> int:
        return self._dag.nextJobId()

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        """Record a span when tracing is on; yield its record (or None)."""
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "op": op if op is not None else (parent or {}).get("op"),
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        rec["job0"] = self._dag.nextJobId()
        rec["t0"] = time.perf_counter()
        self.bookkeeping_s += rec["t0"] - b0
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["job1"] = self._dag.nextJobId()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec["t1"]

    def add_span(self, name: str, t0: float, t1: float, **attrs) -> None:
        """Record a span timed by the caller (e.g. before the tracer existed)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": None, "op": None, "t0": t0,
                               "t1": t1, "job0": 0, "job1": 0, **attrs})

    def resolve(self, job0: int = 0, job1: int | None = None) -> None:
        """Fetch metrics of jobs ``[job0, job1)`` (default: every job a span
        saw) from the status store. Each stage counts once, in the first
        job that lists it: a later job that reuses its shuffle output only
        lists it as skipped."""
        self._sc.listenerBus().waitUntilEmpty()
        if job1 is None:
            job1 = max((s["job1"] for s in self.spans), default=0)
        store = self._sc.statusStore()
        seen: set[int] = {sid for j in self.jobs.values()
                          for sid in j["stages"]}
        for jid in range(job0, job1):
            if jid in self.jobs:
                continue
            try:
                jd = store.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            rec = {"start": sub.get().getTime() / 1e3 if sub.isDefined()
                   else None,
                   "end": done.get().getTime() / 1e3 if done.isDefined()
                   else None,
                   "stages": [], "task_s": 0.0, "cpu_s": 0.0,
                   "input_bytes": 0, "input_records": 0, "output_bytes": 0,
                   "shuffle_bytes": 0}
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                rec["stages"].append(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                rec["task_s"] += sd.executorRunTime() / 1e3
                rec["cpu_s"] += sd.executorCpuTime() / 1e9
                rec["input_bytes"] += sd.inputBytes()
                rec["input_records"] += sd.inputRecords()
                rec["output_bytes"] += sd.outputBytes()
                rec["shuffle_bytes"] += (sd.shuffleReadBytes()
                                         + sd.shuffleWriteBytes())
            self.jobs[jid] = rec

    def job_totals(self, job0: int, job1: int) -> dict:
        """Summed job metrics over a job-id window."""
        out = {"jobs": 0, "task_s": 0.0, "cpu_s": 0.0, "input_bytes": 0,
               "input_records": 0, "output_bytes": 0, "shuffle_bytes": 0}
        for jid in range(job0, job1):
            j = self.jobs.get(jid)
            if j is None:
                continue
            out["jobs"] += 1
            for k in out:
                if k != "jobs":
                    out[k] += j[k]
        return out

    def job_busy_s(self, span: dict) -> float:
        """Seconds of the span covered by at least one of its jobs."""
        lo, hi = span["t0"] + self._epoch, span["t1"] + self._epoch
        return _union(
            (max(lo, j["start"]), min(hi, j["end"]))
            for jid in range(span["job0"], span["job1"])
            if (j := self.jobs.get(jid)) and j["start"] and j["end"])

    def stats(self, spans: list[dict]) -> dict:
        """Totals over spans: count, busy seconds and their jobs' metrics."""
        out = {"count": len(spans),
               "busy_s": sum(s["t1"] - s["t0"] for s in spans),
               "job_busy_s": sum(self.job_busy_s(s) for s in spans)}
        totals = [self.job_totals(s["job0"], s["job1"]) for s in spans]
        for k in ("jobs", "task_s", "cpu_s", "input_bytes", "input_records",
                  "output_bytes", "shuffle_bytes"):
            out[k] = sum(t[k] for t in totals)
        return out

    def catalyst_s(self, span: dict) -> float:
        """Catalyst seconds (analysis, optimization, planning) of the query
        executions that started inside ``span``; call after ``resolve()``."""
        lo, hi = span["t0"] + self._epoch, span["t1"] + self._epoch
        return sum(c for t, c in self.phases.executions if lo <= t <= hi)

    def named(self, *names: str) -> list[dict]:
        return [s for s in self.spans if s["name"] in names and "t1" in s]

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds, where self time is
        the span's duration minus the part its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            if "t1" not in s:
                continue
            dur = s["t1"] - s["t0"]
            covered = _union((c["t0"], c["t1"]) for c in kids.get(s["id"], [])
                             if "t1" in c)
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                             "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "self_time": self.self_times(),
                       "spans": self.spans,
                       "jobs": {str(k): v for k, v in self.jobs.items()}},
                      f, default=str)


def _union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
