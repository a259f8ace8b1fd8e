#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and summarize how steady it is.

    python3 perfbench/steadiness.py --runs 10 --first-seed 101 \\
        --out perfbench/results/steadiness.json

For every workload and end-to-end metric it records the per-run values,
their median and quartiles (``statistics.quantiles(values, n=4)``) and the
spread (q3 - q1) / median next to the metric's bound in BENCHMARK.json.
Each run's wall time and diagnostics are kept too, so a slow host window
can be told apart from the benchmark itself.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    t0 = time.perf_counter()
    p = subprocess.run(
        bench["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    diag = None
    for line in reversed(p.stderr.strip().splitlines()):
        if line.startswith("{"):
            diag = json.loads(line)
            break
    return {"seed": seed, "wall_s": wall, "result": result, "diag": diag}


def summarize(runs: list[dict], bounds: dict) -> dict:
    out = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        entry = {"unit": runs[0]["result"]["metrics"][name]["unit"],
                 "median": med, "q1": q1, "q3": q3,
                 "spread": (q3 - q1) / med if med else None, "values": vals}
        if name in bounds:
            entry["bound"] = bounds[name]
        out[name] = entry
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    report = {"run_seconds": bench["run_seconds"], "trace": a.trace, "workloads": {}}
    for wl in workloads:
        runs = []
        for i in range(a.runs):
            r = run_once(wl, a.first_seed + i, bench["run_seconds"], a.trace)
            print(f"{wl} seed {r['seed']}: {r['wall_s']:.1f} s, correct={r['result']['correct']}",
                  file=sys.stderr, flush=True)
            runs.append(r)
        report["workloads"][wl] = {
            "correct": all(r["result"]["correct"] for r in runs),
            "wall_s": [r["wall_s"] for r in runs],
            "metrics": summarize(runs, bounds),
            "runs": runs,
        }
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
    for wl, rep in report["workloads"].items():
        for name, m in rep["metrics"].items():
            spread = "-" if m["spread"] is None else f"{m['spread']:.3f}"
            print(f"{wl:13s} {name:18s} median {m['median']:.4g} {m['unit']:6s} "
                  f"spread {spread}" + (f" / bound {m['bound']}" if "bound" in m else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
