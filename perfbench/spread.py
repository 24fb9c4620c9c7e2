"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload pipe_bulk --seeds 1 2 3 4 5

For each end-to-end metric (or per-layer metric with ``--trace 1``) it
prints the median over the runs and the distance between the first and
third quartile as a share of the median, next to the metric's bound
in ``BENCHMARK.json``. It also checks every run's correctness and that
each run reports exactly the metrics ``BENCHMARK.json`` names, and
prints each run's wall time.
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

from perfbench import stats  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = bench["per_layer" if args.trace else "end_to_end"]
    bounds = {m["name"]: m.get("bound") for m in listed}

    values: dict[str, list[float]] = {}
    ok = True
    for seed in args.seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            return 1
        result = json.loads(lines[-1])
        metrics = result["metrics"]
        if set(metrics) != set(bounds):
            print(f"seed {seed}: metrics differ from BENCHMARK.json: "
                  f"{sorted(set(metrics) ^ set(bounds))}")
            ok = False
        if not result["correct"] or result["failed"]:
            ok = False
        with open(os.path.join(ROOT, ".perfbench_work", "results",
                               f"{args.workload}-seed{seed}-trace{args.trace}.json")) as f:
            env = json.load(f)["env"]
        print(f"seed {seed}: {wall:.1f} s wall, correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              f"cpu_steal_s={env['cpu_steal_s']:.1f} calibration={env['calibration']}")
        for name, m in metrics.items():
            values.setdefault(name, []).append(m["value"])

    print(f"\n{'metric':32} {'median':>14} {'spread':>8} {'bound':>6}")
    for name, vals in values.items():
        spread = stats.quartile_spread(vals) if len(vals) > 1 and stats.median(vals) else 0.0
        bound = bounds.get(name)
        flag = "" if bound is None or spread < bound / 3 else "  <-- above a third of the bound"
        print(f"{name:32} {stats.median(vals):14.6g} {spread:8.3f} "
              f"{'' if bound is None else bound:>6}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
