"""Run workloads over several seeds and print every metric by name and unit.

    python3 perfbench/report.py                        # every workload, seed 1
    python3 perfbench/report.py --workloads wearable_etl --seeds 1 2 3 4 5

Each (workload, seed) is one ``perfbench/run.py`` process with the
``run_seconds`` of ``BENCHMARK.json``. With more than one seed it also
prints, per metric, the median and the spread (interquartile distance as
a share of the median) next to the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main(argv=None) -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=names, choices=names)
    ap.add_argument("--seeds", nargs="*", type=int, default=[1])
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    status = 0
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        for seed in args.seeds:
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, run, "--workload", w, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                capture_output=True, text=True,
            )
            wall = time.monotonic() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed={seed} exit={proc.returncode}\n{proc.stderr[-2000:]}")
                status = 1
                continue
            res = json.loads(lines[-1])
            print(f"{w} seed={seed} wall={wall:.1f}s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            if len(lines) > 1:
                print(f"  {lines[-2]}")
            for name, m in res["metrics"].items():
                print(f"  {name} = {m['value']:.6g} {m['unit']}")
                values.setdefault(name, []).append(m["value"])
                units[name] = m["unit"]
            status |= not res["correct"]
        if len(args.seeds) > 1:
            print(f"{w} over {len(args.seeds)} seeds:")
            for name, vals in values.items():
                med = statistics.median(vals)
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med if med else float("nan")
                bound = bounds.get(name)
                note = f" bound={bound} spread/bound={spread / bound:.2f}" if bound else ""
                print(f"  {name}: median={med:.6g} {units[name]} spread={spread:.4f}{note}")
    return status


if __name__ == "__main__":
    sys.exit(main())
