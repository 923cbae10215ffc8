"""Shared thread fan-out for independent Spark jobs.

Spark's scheduler accepts jobs from multiple driver threads, so
independent work units (per-shard lifecycle calls, per-partition part
writes, per-table flushes) cost ~max(job) wall-clock instead of
sum(jobs). One helper with ONE error contract — drain everything, then
raise the first failure — so every call site behaves the same way:
rollback paths (e.g. flush's all-or-nothing part commit) need the full
list of completed results to clean up, and abandoning in-flight
futures on first error would leak exactly the partial state those
paths exist to delete. (r13 review find: four inline ThreadPoolExecutor
copies had silently diverging drain-vs-abandon semantics.)
"""

from __future__ import annotations

from collections.abc import Callable, Sequence


def with_caller_properties(
        fns: Sequence[Callable[[], object]]) -> list[Callable[[], object]]:
    """Wrap thunks that will run on other threads so each carries the
    calling thread's Spark local properties — job group, description,
    job tags, scheduler pool — and the jobs it starts are attributed to
    the caller's operation (``getJobIdsForGroup``, ``cancelJobGroup``).
    In pinned-thread mode every Python thread has its own JVM thread
    whose local properties start empty. The properties are snapshotted
    once here; each thunk installs its own copy, because Spark stores
    the object it is given and SQL executions write their execution id
    into it."""
    from py4j.clientserver import ClientServer
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None or not isinstance(SparkContext._gateway, ClientServer):
        return list(fns)
    props = sc._jsc.sc().getLocalProperties().clone()

    def wrap(fn):
        def run():
            sc._jsc.sc().setLocalProperties(props.clone())
            return fn()
        return run

    return [wrap(fn) for fn in fns]


def run_concurrently(fns: Sequence[Callable[[], object]],
                     max_workers: int | None = None) -> list:
    """Run thunks as concurrent jobs; return results in input order.

    Every thunk runs to completion (drain) even when an earlier one
    fails; the FIRST exception (input order) is re-raised afterwards.
    A single thunk runs inline — no pool, no thread hop. Pooled thunks
    run with the caller's Spark local properties
    (with_caller_properties).
    """
    if not fns:
        return []
    if len(fns) == 1:
        return [fns[0]()]
    from concurrent.futures import ThreadPoolExecutor

    results: list = []
    first_err: BaseException | None = None
    with ThreadPoolExecutor(
            max_workers=max_workers or len(fns)) as ex:
        for f in [ex.submit(fn) for fn in with_caller_properties(fns)]:
            try:
                results.append(f.result())
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                if first_err is None:
                    first_err = exc
    if first_err is not None:
        raise first_err
    return results
