#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload region_query --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) in this process for ``--seconds``
of timed ops after its set-up, checks every output it measures, and prints
one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run records spans
around the program's public calls and reports every per-layer one instead
(see ``workloads.traced``).
Per-run diagnostics (host, load, steal, host-speed probe) go to stderr and
to ``perfbench/.cache/last_<workload>.json``, never into the metrics.

Everything the run writes stays under ``perfbench/.cache``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    import harness

    harness.confine_writes()
    import workloads  # imports oxbow_spark: fails fast outside a checkout

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    run = harness.Run(args.seed, args.seconds, T_START)
    load0, steal0 = os.getloadavg()[0], harness.steal_jiffies()
    if args.trace:
        metrics = workloads.traced(run, args.workload)
    else:
        metrics = workloads.WORKLOADS[args.workload](run)
    steal1 = harness.steal_jiffies()
    run.diag.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": harness.nproc(), "loadavg_start": load0,
        "loadavg_end": os.getloadavg()[0],
        "steal_jiffies": None if steal0 is None or steal1 is None else steal1 - steal0,
        "host_inflate_mb_s": harness.host_speed_mb_s(),
        "errors": run.errors[:20],
    })
    print(json.dumps(run.diag), file=sys.stderr)
    with open(os.path.join(harness.CACHE, f"last_{args.workload}.json"), "w") as fh:
        json.dump(run.diag, fh, indent=1)
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
