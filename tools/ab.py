"""Alternating-pair A/B of the benchmark between two checkouts.

    python tools/ab.py PARENT_DIR CHANGE_DIR --seeds 111-120
        [--workloads engine_ingest ...] [--trace-seed N] [--out FILE]

For every workload and seed, runs ``BENCHMARK.json``'s command with
``--workload W --seed N --seconds S --trace 0`` once in each checkout (S is
``run_seconds``), one run at a time. Which side runs first alternates by
seed: the parent on the first seed, the change on the second, and so on.
Each run's last stdout line is its result.

Prints every pair, then per workload and end-to-end metric both medians
with their quartiles, how many pairs the change won, whether the
change's median is worse than the parent's by more than the metric's
``bound`` (a share of the parent's median), and whether the change shows
a gain: it won at least nine in ten pairs (a tie counts for neither
side) and its median is better than the parent's by more than the
parent's quartile spread (q3 - q1). Every run's ``correct`` and
``failed`` are printed too. Exits 1 when a metric is worse beyond its
bound, a run failed, or a run counted a failed operation.

With ``--trace-seed N``, each workload's pairs are followed by one
``--trace 1`` run per side at seed N. Every ``per_layer`` metric of the
spec is printed as parent -> change, then the ``count`` and ``jobs/op``
metrics whose values differ: on the same code those repeat exactly. The
result is stored under ``layers`` in ``--out``; a traced run that fails
counts as a failed run.

The benchmark spec is read from PARENT_DIR's ``BENCHMARK.json``; the
summary statistics are ``perfbench/sweep.py``'s.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.sweep import seeds, summarise  # noqa: E402

SIDES = ("parent", "change")
EXACT_UNITS = ("count", "jobs/op")


def run_once(spec: dict, checkout: str, wl: str, seed: int,
             trace: int = 0) -> dict:
    """One benchmark run in ``checkout``: its result line, or None."""
    cmd = spec["command"] + [
        "--workload", wl, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        print(p.stderr[-2000:], file=sys.stderr)
    return {"rc": p.returncode, "wall_s": time.perf_counter() - t0,
            "result": result}


def verdict(metrics: list[dict], pairs: list[dict]) -> dict:
    """Per end-to-end metric: both sides' median and quartiles, the
    change's wins over the pairs, its median change as a share of the
    parent's median (positive = worse), whether that exceeds the
    metric's bound, and whether the change shows a ``gain`` (at least
    9 wins in 10 pairs and a median gap past the parent's q3 - q1). ``pairs`` are ``{"parent": result, "change": result}``
    with ``result["metrics"][name]["value"]``; a pair with a missing
    result is skipped."""
    done = [p for p in pairs if p["parent"] and p["change"]]
    out = {}
    for m in metrics if done else ():
        name, sign = m["name"], (1 if m["better"] == "lower" else -1)
        vals = {s: [p[s]["metrics"][name]["value"] for p in done]
                for s in SIDES}
        par, chg = summarise(vals["parent"]), summarise(vals["change"])
        worse = (sign * (chg["median"] - par["median"]) / par["median"]
                 if par["median"] else 0.0)
        wins = sum(sign * (c - p) < 0 for p, c in
                   zip(vals["parent"], vals["change"]))
        gap = sign * (par["median"] - chg["median"])
        out[name] = {
            "parent": par, "change": chg, "wins": wins,
            "pairs": len(done), "worse_share": worse,
            "beyond_bound": "bound" in m and worse > m["bound"],
            "gain": (10 * wins >= 9 * len(done)
                     and gap > par["q3"] - par["q1"])}
    return out


def layer_diff(per_layer: list[dict], traced: dict) -> dict:
    """Each per-layer metric of one traced pair (``traced`` maps a side
    to its result, None when the run failed) as ``{side: value}``, and
    the names of the ``count`` and ``jobs/op`` metrics whose values
    differ."""
    values = {m["name"]: {s: None if traced[s] is None else
                          traced[s]["metrics"][m["name"]]["value"]
                          for s in SIDES} for m in per_layer}
    differ = [m["name"] for m in per_layer if m["unit"] in EXACT_UNITS
              and values[m["name"]]["parent"] != values[m["name"]]["change"]]
    return {"metrics": values, "differ": differ}


def failures(pairs: list[dict]) -> list[str]:
    """Every run that crashed, was not correct, or failed an operation."""
    bad = []
    for p in pairs:
        for s in SIDES:
            r = p[s]
            if r is None or not r["correct"] or r["failed"]:
                bad.append(f"{p['workload']} seed {p['seed']} {s}: "
                           + ("no result" if r is None else
                              f"correct={r['correct']} failed={r['failed']}"))
    return bad


def _pair_line(pair: dict, names: list[str]) -> str:
    """``seed first`` and each metric's ``parent/change`` values, then
    both runs' ``correct`` and ``failed``; ``-`` for a missing result."""
    def both(get):
        return "/".join("-" if pair[s] is None else get(pair[s])
                        for s in SIDES)
    return " ".join(
        [f"  {pair['seed']} {pair['first']}"]
        + [both(lambda r, n=n: f"{r['metrics'][n]['value']:.3f}")
           for n in names]
        + [both(lambda r: str(r["correct"])),
           both(lambda r: str(r["failed"]))])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--trace-seed", type=int)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(args.parent_dir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    dirs = {"parent": args.parent_dir, "change": args.change_dir}
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    names = [m["name"] for m in spec["end_to_end"]]
    pairs, summary, layers, traced_pairs = [], {}, {}, []
    for wl in workloads:
        print(f"\n{wl}: seed first " + " ".join(
            f"{n}(parent/change)" for n in names) + " correct failed",
            flush=True)
        wl_pairs = []
        for i, seed in enumerate(args.seeds):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            runs = {s: run_once(spec, dirs[s], wl, seed) for s in order}
            pair = {"workload": wl, "seed": seed, "first": order[0],
                    **{s: runs[s]["result"] for s in SIDES},
                    "rc": {s: runs[s]["rc"] for s in SIDES},
                    "wall_s": {s: runs[s]["wall_s"] for s in SIDES}}
            wl_pairs.append(pair)
            print(_pair_line(pair, names), flush=True)
        summary[wl] = verdict(spec["end_to_end"], wl_pairs)
        for name, v in summary[wl].items():
            p, c = v["parent"], v["change"]
            print(f"- {name}: parent {p['median']:.3f} ({p['q1']:.3f}-"
                  f"{p['q3']:.3f}) -> change {c['median']:.3f} "
                  f"({c['q1']:.3f}-{c['q3']:.3f}); "
                  f"{abs(v['worse_share']):.1%} "
                  f"{'worse' if v['worse_share'] > 0 else 'better'}, "
                  f"change better in "
                  f"{v['wins']}/{v['pairs']}"
                  + ("; WORSE BEYOND BOUND" if v["beyond_bound"] else "")
                  + ("; GAIN" if v["gain"] else "; no gain"))
        pairs += wl_pairs
        if args.trace_seed is None:
            continue
        seed = args.trace_seed
        traced = {s: run_once(spec, dirs[s], wl, seed, trace=1)["result"]
                  for s in SIDES}
        traced_pairs.append({"workload": wl, "seed": f"{seed} (traced)",
                             **traced})
        layers[wl] = {"seed": seed,
                      **layer_diff(spec["per_layer"], traced)}
        print(f"{wl}, traced seed {seed}: metric parent -> change")
        for name, v in layers[wl]["metrics"].items():
            print(f"- {name}: " + " -> ".join(
                "-" if v[s] is None else f"{v[s]:.6g}" for s in SIDES))
        print("counts that differ: "
              + (", ".join(layers[wl]["differ"]) or "none"))
    bad = failures(pairs + traced_pairs)
    for b in bad:
        print(f"FAILED RUN: {b}")
    beyond = [f"{wl} {n}" for wl, per in summary.items()
              for n, v in per.items() if v["beyond_bound"]]
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"seeds": args.seeds, "dirs": dirs, "pairs": pairs,
                       "summary": summary, "layers": layers,
                       "failed_runs": bad,
                       "beyond_bound": beyond}, f, indent=1)
    print("verdict: " + ("no end-to-end metric worse beyond its bound"
                         if not beyond else "worse beyond bound: "
                         + ", ".join(beyond)))
    return 1 if bad or beyond else 0


if __name__ == "__main__":
    sys.exit(main())
