#!/usr/bin/env python3
"""Run the benchmark several times per workload, one seed per run, and report
each end-to-end metric's median and spread (quartile distance as a share of
the median, from ``statistics.quantiles(values, n=4)``) against its bound,
plus the same for the ungated wall-clock figures of the ``detail`` line.

    python3 perfbench/steadiness.py --runs 10 --first-seed 100 --out perfbench/steadiness.json

Run from the repository root; the runs are sequential, so none competes with
another for cores.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

UNGATED = ("op_p50_s", "op_tail_s", "rows_per_s", "peak_rss_mb", "steal_s")


def spread(values: list[float]) -> tuple[float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--out")
    args = p.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    report: dict = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for name in names:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [*bench["command"], "--workload", name, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            wall = time.monotonic() - t0
            lines = proc.stdout.strip().splitlines() if proc.returncode == 0 else []
            result = json.loads(lines[-1]) if lines else None
            detail = next((json.loads(x)["detail"] for x in lines if x.startswith('{"detail"')), {})
            if result:
                result["ungated"] = {k: detail[k] for k in UNGATED if k in detail}
            runs.append({"seed": seed, "returncode": proc.returncode, "wall_s": round(wall, 2), "result": result})
            print(json.dumps({"workload": name, **runs[-1]}), flush=True)
        ok = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
        metrics = {}
        for metric, bound in bounds.items():
            values = [r["metrics"][metric]["value"] for r in ok]
            if len(values) >= 2:
                med, frac = spread(values)
                metrics[metric] = {"median": med, "spread": round(frac, 4), "bound": bound,
                                   "within_third_of_bound": frac <= bound / 3, "values": values}
        ungated = {}
        for metric in UNGATED:
            values = [r["ungated"][metric] for r in ok if metric in r["ungated"]]
            if len(values) >= 2 and statistics.median(values):
                med, frac = spread(values)
                ungated[metric] = {"median": med, "spread": round(frac, 4), "values": values}
        report["workloads"][name] = {
            "runs": len(runs), "correct_runs": len(ok),
            "mean_wall_s": round(statistics.mean(r["wall_s"] for r in runs), 2),
            "metrics": metrics, "ungated": ungated,
        }
    text = json.dumps(report, indent=2)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
