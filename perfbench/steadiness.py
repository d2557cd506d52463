"""Run-to-run spread of the end-to-end metrics, against BENCHMARK.json bounds.

    python3 perfbench/steadiness.py --set A --seeds 1-10 [--workloads point_search,...]

Runs ``perfbench/run.py`` once per (workload, seed) with ``--trace 0`` and the
``run_seconds`` of BENCHMARK.json, one run at a time, from the checkout root.
For each metric it records the median and quartiles of the runs (Python's
``statistics.quantiles(values, n=4)``) and the spread (Q3 - Q1) / median, and
flags a spread above a third of the metric's bound (setup_s excepted: only its
median must hold between sets). The record is merged into
``perfbench/STEADINESS.json`` under the set name; when two sets exist, each
workload's medians are compared across them as well.
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
RECORD = os.path.join(ROOT, "perfbench", "STEADINESS.json")


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    wall = time.monotonic() - t0
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    return result


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    median = statistics.median(values)
    return {"median": median, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / median if median else float("inf"),
            "values": values}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--set", required=True, help="name of this set of runs")
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--workloads", default=None, help="comma-separated; default all")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    record = {}
    if os.path.exists(RECORD):
        with open(RECORD) as fh:
            record = json.load(fh)
    sets = record.setdefault("sets", {})
    this = sets.setdefault(args.set, {})
    ok = True
    for workload in workloads:
        runs = [one_run(workload, seed, bench["run_seconds"]) for seed in args.seeds]
        if not all(r["correct"] and r["failed"] == 0 for r in runs):
            print(f"{workload}: a run reported failed operations")
            ok = False
        walls = [r["wall_s"] for r in runs]
        entry = {"seeds": args.seeds, "wall_s": summarize(walls), "metrics": {}}
        for name, bound in bounds.items():
            s = summarize([r["metrics"][name]["value"] for r in runs])
            s["bound"] = bound
            s["within_third_of_bound"] = name == "setup_s" or s["spread"] < bound / 3
            ok &= s["within_third_of_bound"]
            entry["metrics"][name] = s
            print(f"{workload:13s} {name:13s} median {s['median']:.6g} "
                  f"q1 {s['q1']:.6g} q3 {s['q3']:.6g} spread {s['spread']:.4f} "
                  f"bound {bound} {'ok' if s['within_third_of_bound'] else 'WIDE'}")
        print(f"{workload:13s} wall per run: median {entry['wall_s']['median']:.1f}s "
              f"max {max(walls):.1f}s")
        this[workload] = entry
    names = sorted(sets)
    if len(names) >= 2:
        a, b = sets[names[0]], sets[names[1]]
        drift = {}
        for workload in sorted(set(a) & set(b)):
            for name, bound in bounds.items():
                m1 = a[workload]["metrics"][name]["median"]
                m2 = b[workload]["metrics"][name]["median"]
                better = next(m["better"] for m in bench["end_to_end"] if m["name"] == name)
                worse = (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1
                drift[f"{workload}/{name}"] = {"first": m1, "second": m2,
                                               "worse_by": worse, "bound": bound,
                                               "ok": worse <= bound}
                print(f"drift {names[0]}->{names[1]} {workload}/{name}: "
                      f"{worse:+.4f} (bound {bound})")
        record["drift"] = drift
    with open(RECORD, "w") as fh:
        json.dump(record, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
