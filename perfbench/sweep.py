"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --seeds 1-10 [--workloads engine_ingest ...]
        [--trace 0] [--out perfbench/trajectory/NAME.json]

Runs ``BENCHMARK.json``'s command once per (workload, seed), one run at a
time, and reports for every metric its median, first and third quartile
(``statistics.quantiles(values, n=4)``) and spread, the distance between
the quartiles as a share of the median. Every run is kept in the output.

With ``--trace 1`` every traced run is paired with an untraced run of the
same seed, right before or after it (the order alternates by seed), so
that drift of the host between runs does not read as tracing overhead. The
overhead per workload and end-to-end metric is the median over seeds of
the traced run's value minus the untraced one's, and that difference as a
share of the untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                 else (med, med, med))
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def run_once(spec: dict, wl: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + [
        "--workload", wl, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    ok = p.returncode == 0
    run = {"workload": wl, "seed": seed, "trace": trace, "rc": p.returncode,
           "wall_s": wall,
           "result": json.loads(lines[-1]) if ok else None,
           "methodology": json.loads(lines[-2])["methodology"] if ok else None}
    print(f"{wl} seed={seed} trace={trace} rc={p.returncode} wall={wall:.1f}s"
          f" correct={ok and run['result']['correct']}",
          file=sys.stderr, flush=True)
    if p.returncode:
        print(p.stderr[-2000:], file=sys.stderr)
    return run


def overhead(runs: list[dict], metrics: list[dict]) -> dict:
    """Traced minus untraced end-to-end values, paired by workload and seed
    (each run's end-to-end values are in its methodology block)."""
    values = {(r["workload"], r["seed"], r["trace"]):
              r["methodology"]["end_to_end"] for r in runs if r["methodology"]}
    out: dict = {}
    for (wl, seed, trace), traced in values.items():
        bare = values.get((wl, seed, 0))
        if not trace or bare is None:
            continue
        for m in metrics:
            out.setdefault(wl, {}).setdefault(m["name"], []).append(
                (traced[m["name"]] - bare[m["name"]], bare[m["name"]]))
    return {wl: {name: {"diff": statistics.median(d for d, _ in pairs),
                        "share": statistics.median(d for d, _ in pairs)
                        / statistics.median(b for _, b in pairs),
                        "pairs": len(pairs)}
                 for name, pairs in per.items()}
            for wl, per in out.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    metrics = spec["per_layer" if args.trace else "end_to_end"]
    runs = []
    for wl in workloads:
        for i, seed in enumerate(args.seeds):
            order = ([0, 1] if i % 2 == 0 else [1, 0]) if args.trace else [0]
            runs += [run_once(spec, wl, seed, trace) for trace in order]
    summary = {}
    for wl in workloads:
        ok = [r["result"] for r in runs if r["workload"] == wl
              and r["trace"] == args.trace and r["result"]]
        summary[wl] = {m["name"]: summarise(
            [r["metrics"][m["name"]]["value"] for r in ok])
            for m in metrics if ok}
        for m in metrics:
            s = summary[wl].get(m["name"])
            if s and not args.trace:
                flag = " " if "bound" not in m or s["spread"] < m["bound"] / 3 \
                    else "!"
                print(f"{flag} {wl:<14} {m['name']:<20} median={s['median']:.4g}"
                      f" spread={s['spread']:.3f} bound={m.get('bound')}",
                      file=sys.stderr)
    doc = {"run_seconds": spec["run_seconds"], "trace": args.trace,
           "summary": summary, "runs": runs,
           "total_wall_s": sum(r["wall_s"] for r in runs)}
    if args.trace:
        doc["overhead"] = overhead(runs, spec["end_to_end"])
        for wl, per in doc["overhead"].items():
            for name, o in per.items():
                print(f"  overhead {wl:<14} {name:<20} {o['diff']:+.4g}"
                      f" ({o['share']:+.1%}, {o['pairs']} pairs)",
                      file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1)
    print(json.dumps({wl: {k: round(v["spread"], 4)
                           for k, v in s.items()}
                      for wl, s in summary.items()}))
    return 0 if all(r["rc"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
