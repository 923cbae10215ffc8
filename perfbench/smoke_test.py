"""Smoke test of the benchmark itself, at tiny sizes and a few rounds, so
that it is quick and its counts repeat exactly.

    python3 perfbench/smoke_test.py
    python3 -m pytest -q perfbench/smoke_test.py

Checks that every workload prints exactly the metric names and units of
``BENCHMARK.json`` with no failed check; that the same seed gives the same
counts (manifest commits, merges, write amplification, catalogue row
hashes); and that the command fails, printing no result, when the
repository is not there.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from catalogue import PASS_S  # noqa: E402
from engine import INGEST_CYCLE_S  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
REPEATABLE = ("manifest.commits", "merge.count", "merge.parts_in",
              "write_amp", "flush.count", "rewrite.count",
              "rewrite.parts_touched", "read.count", "read.rows_returned")


def run(workload: str, seed: int, trace: int, rounds: int,
        cwd: str = ROOT) -> subprocess.CompletedProcess:
    """Run ``rounds`` rounds of ``workload``: --seconds is that many times
    the workload's nominal round time."""
    round_s = INGEST_CYCLE_S if workload == "engine_ingest" else PASS_S
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(rounds * round_s),
           "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=900)


def result(workload: str, seed: int, trace: int,
           rounds: int) -> tuple[dict, dict]:
    """(methodology, result) of a run that must succeed and be correct."""
    p = run(workload, seed, trace, rounds)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, p.stderr[-3000:]
    assert res["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted}
    if not trace:
        for name, v in res["metrics"].items():
            assert v["value"] > 0, (workload, name, v)
    return json.loads(lines[-2])["methodology"], res


def test_engine_ingest_repeats():
    counts = []
    for _ in range(2):
        meta, res = result("engine_ingest", 7, 1, rounds=10)
        assert meta["error_rate"] == 0
        counts.append({k: res["metrics"][k]["value"] for k in REPEATABLE})
    assert counts[0] == counts[1]
    assert counts[0]["merge.count"] > 0 and counts[0]["rewrite.count"] == 3
    assert res["metrics"]["read.bloom_candidates"]["value"] > 0
    result("engine_ingest", 7, 0, rounds=10)


def test_catalogue_repeats():
    hashes = []
    for trace in (0, 1):
        meta, _ = result("catalogue", 5, trace, rounds=1)
        hashes.append(meta["row_hashes"])
    assert hashes[0] == hashes[1] and len(hashes[0]) >= 2


def test_fails_without_repository():
    bare = os.path.join(ROOT, ".perfbench_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, path),
                            os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = run("engine_ingest", 1, 0, rounds=1, cwd=bare)
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"{name}: ok", flush=True)
