"""Self-test of the benchmark at sf0.001-sized inputs.

    python3 perfbench/selftest.py

In one Spark session, for every workload: set up, run a few ops and
require that none fails; then corrupt one expected value and require that
the checks count the ops as failed. A short traced run of
``wearable_etl`` must yield every per-layer metric BENCHMARK.json
names. Exits 0 only if all of that holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

import inputs  # noqa: E402
import run  # noqa: E402
from tracing import Tracer, spark_counters  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCALE = 0.001
SEED = 7


def _wrong_bronze_count(wl):
    wl.expected["bronze"] += 1


def _wrong_row_counts(wl):
    wl.expected_rows = {q: n + 1 for q, n in wl.expected_rows.items()}


TAMPER = {
    "wearable_etl": _wrong_bronze_count,
    "wearable_analytics": _wrong_row_counts,
}


def main() -> int:
    with open("BENCHMARK.json") as f:
        per_layer_names = {m["name"] for m in json.load(f)["per_layer"]}
    work = os.path.join(os.getcwd(), ".perfbench", f"selftest-{os.getpid()}")
    tracer = Tracer()
    problems: list[str] = []
    spark, pkg = run.start_session(work, run.cores(), tracer)
    tracer.enabled = False
    sc = spark.sparkContext
    try:
        for name, cls in WORKLOADS.items():
            data = os.path.join(work, f"data-{name}")
            inputs.generate(data, SEED, SCALE)
            wl = cls(spark, pkg, data, os.path.join(work, name), SEED, tracer)
            wl.setup()
            good, _ = run.measure(wl, 0, False, tracer, sc, min_units=2)
            failed = sum(not r["ok"] for r in good)
            print(f"{name}: setup_failures={wl.setup_failures} ops={len(good)} failed={failed}")
            if wl.setup_failures or failed:
                problems.append(f"{name}: failures on correct expectations")
            TAMPER[name](wl)
            bad, _ = run.measure(wl, 0, False, tracer, sc, min_units=1)
            ratio = sum(not r["ok"] for r in bad) / len(bad)
            print(f"{name}: with a wrong expected value failed_ratio={ratio:.2f}")
            if ratio == 0:
                problems.append(f"{name}: wrong expected value not counted as failed")
            if name == "wearable_etl":
                wl.expected = inputs.expected_medallion(data)
                records, _ = run.measure(wl, 0, True, tracer, sc)
                ids = [r["op_id"] for r in records if r["traced"]]
                metrics = run.per_layer(wl, records, tracer, spark_counters(sc, ids),
                                        run.cores())
                missing = per_layer_names - set(metrics)
                print(f"{name}: traced run gave {len(metrics)} per-layer metrics")
                if missing:
                    problems.append(f"per-layer metrics missing: {sorted(missing)}")
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest " + ("FAILED: " + "; ".join(problems) if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
