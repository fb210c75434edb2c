"""Wearable-analytics benchmark for ``practicum2_nof1_adhd_bd_spark``.

Run from the repository root:

    python3 perfbench/run.py --workload wearable_etl --seed 1 --seconds 8 --trace 0

Workloads: ``wearable_etl`` and ``wearable_analytics`` (see
``perfbench/README.md``). The seed generates the inputs; the engine
only sees the generated parquet files. Every file the run writes lives
under ``.perfbench/`` in the working directory; the per-run scratch
directory is removed at exit.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (spans + Spark counters, written in full to
``.perfbench/traces/``). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
host diagnostics (CPU steal, load, JVM peak RSS, p90 with its sample count).
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import types  # noqa: E402

PACKAGE = "practicum2_nof1_adhd_bd_spark"
MAX_CORES = 4
DRIVER_MEM = "3g"


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def start_session(work_dir: str, n_cores: int, tracer):
    """Start the engine's tuned session with every scratch path inside
    ``work_dir``, and import the layers the workloads call."""
    root = os.getcwd()
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(n_cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    )
    tempfile.tempdir = tmp
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a run in the status store the tracer reads
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }
    with tracer.span("session.get_spark"):
        from practicum2_nof1_adhd_bd_spark import session

        spark = session.get_spark("perfbench", master=f"local[{n_cores}]", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("imports"):
        from practicum2_nof1_adhd_bd_spark import pipeline, registry
    return spark, types.SimpleNamespace(pipeline=pipeline, registry=registry)


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(int(entry))
    return kids


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark, then the JVM the session launched and every process it
    started (Python workers), waiting until each has exited."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    helpers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    _wait_gone(helpers, timeout=10)


def measure(
    wl, seconds: float, trace: bool, tracer, sc, min_units: int | None = None
) -> tuple[list[dict], float]:
    """Closed loop over whole units: the workload's ``min_units``, then more
    while the next one, at the mean unit time so far, would end within
    ``seconds``. (A unit that would overrun is not started, so the number
    of units does not flip with a few percent of timing noise.) In a traced
    run odd units are traced and even ones are not (at least one of each),
    so tracing overhead is measured inside the run."""
    records: list[dict] = []
    if min_units is None:
        min_units = max(wl.min_units, 2 if trace else 1)
    units = wl.units()
    start = time.perf_counter()
    u = 0
    while u < min_units or (time.perf_counter() - start) * (u + 1) / u <= seconds:
        traced = trace and u % 2 == 1
        tracer.enabled = traced
        for op in next(units):
            op_id = f"op{len(records)}"
            tracer.op_id = op_id
            kind = wl.kind(op)
            out = None
            t0 = time.perf_counter()
            try:
                if traced:
                    sc.setJobGroup(op_id, kind)
                with tracer.span("op"):
                    out = wl.execute(op)
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                lat = time.perf_counter() - t0
                ok = wl.check(op, out)
            except Exception:  # an op that raises is a failed op; keep going
                lat = time.perf_counter() - t0
                traceback.print_exc()
                ok = False
            finally:
                wl.after(op, out)
            records.append(
                {"op_id": op_id, "kind": kind, "op": list(op), "lat": lat, "ok": ok,
                 "traced": traced}
            )
        u += 1
    tracer.enabled = False
    return records, time.perf_counter() - start


def end_to_end(records: list[dict], wall: float, setup_s: float) -> dict:
    lats = [r["lat"] for r in records]
    ok = sum(r["ok"] for r in records)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": ok / wall, "unit": "1/s"},
        "op_p50_ms": {"value": statistics.median(lats) * 1000.0, "unit": "ms"},
    }


def _median_ms(values: list[float]) -> float:
    return statistics.median(values) * 1000.0 if values else 0.0


def per_layer(wl, records, tracer, counters, n_cores) -> dict:
    from workloads import ANALYTICS_MIX, operator_metric

    traced = [r for r in records if r["traced"]]
    ids = {r["op_id"] for r in traced}
    m: dict[str, tuple[float, str]] = {}

    def span_ms(name):
        return _median_ms(tracer.durations(name, ids))

    m["session.start_s"] = (tracer.durations("session.get_spark")[0], "s")
    for layer in ("bronze", "silver", "gold"):
        m[f"pipeline.{layer}_ms"] = (span_ms(f"pipeline.build_{layer}"), "ms")
    files = written = amp = 0.0
    if wl.name == "wearable_etl":
        files = statistics.median(x["bronze_files"] for x in wl.layout)
        written = statistics.median(x["bytes_written"] for x in wl.layout)
        amp = written / wl.input_bytes
    m["pipeline.bronze_files"] = (files, "count")
    m["pipeline.bytes_written"] = (written, "bytes")
    m["pipeline.write_amplification"] = (amp, "ratio")
    m["registry.plan_ms"] = (span_ms("registry.plan"), "ms")
    m["registry.exec_ms"] = (span_ms("registry.exec"), "ms")
    for q in ANALYTICS_MIX:
        q_ids = {r["op_id"] for r in traced if r["kind"] == q}
        m[operator_metric(q)] = (_median_ms(tracer.durations("op", q_ids)), "ms")

    n = max(1, len(traced))
    tot = {k: sum(c.get(k, 0) for c in counters.values()) for k in (
        "jobs", "stages", "tasks", "input_bytes", "input_records",
        "shuffle_write_bytes", "executor_run_ms")}
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "input_bytes": "bytes", "input_records": "count",
             "shuffle_write_bytes": "bytes", "executor_run_ms": "ms"}
    for k, unit in units.items():
        m[f"spark.{k}_per_op"] = (tot[k] / n, unit)
    wall_ms = sum(tracer.durations("op", ids)) * 1000.0
    m["spark.busy_ratio"] = (tot["executor_run_ms"] / max(wall_ms * n_cores, 1e-9), "ratio")

    m["trace.overhead_pct"] = (overhead_pct(records), "%")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def overhead_pct(records) -> float:
    """Median over op kinds of (traced p50 / untraced p50 - 1), in %."""
    ratios = []
    for kind in {r["kind"] for r in records}:
        on = [r["lat"] for r in records if r["kind"] == kind and r["traced"]]
        off = [r["lat"] for r in records if r["kind"] == kind and not r["traced"]]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off) - 1.0)
    return 100.0 * statistics.median(ratios) if ratios else 0.0


def diagnostics(wl, records, host) -> dict:
    lats = sorted(r["lat"] for r in records)
    d = dict(host)
    d["ops"] = len(records)
    d["failed_ratio"] = sum(not r["ok"] for r in records) / max(1, len(records))
    d["setup_failures"] = wl.setup_failures
    if len(lats) >= 2:
        d["op_p90_ms"] = statistics.quantiles(lats, n=10)[8] * 1000.0
        d["op_p90_samples"] = len(lats)
    return d


def main(argv=None) -> int:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.getcwd())
    args = parse_args(argv)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {os.getcwd()}", file=sys.stderr)
        return 2

    import inputs
    from tracing import HostProbe, Tracer, spark_counters
    from workloads import WORKLOADS

    host = HostProbe()
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    tracer = Tracer()
    tracer.enabled = bool(args.trace)
    n_cores = cores()
    spark = None
    try:
        data_dir = os.path.join(work, "data")
        with tracer.span("inputs.generate"):
            inputs.generate(data_dir, args.seed)
        spark, pkg = start_session(work, n_cores, tracer)
        wl = WORKLOADS[args.workload](spark, pkg, data_dir, work, args.seed, tracer)
        with tracer.span("workload.setup"):
            wl.setup()
        setup_s = time.perf_counter() - _T0
        records, wall = measure(wl, args.seconds, bool(args.trace), tracer, spark.sparkContext)
        if args.trace:
            groups = [r["op_id"] for r in records if r["traced"]]
            counters = spark_counters(spark.sparkContext, groups)
            metrics = per_layer(wl, records, tracer, counters, n_cores)
        else:
            metrics = end_to_end(records, wall, setup_s)
        diag = diagnostics(wl, records, host.finish(jvm_pid()))
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            path = os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
            )
            with open(path, "w") as f:
                json.dump({"args": vars(args), "metrics": metrics, "diagnostics": diag,
                           "records": records, "counters": counters,
                           "self_time_s": tracer.self_times(),
                           "spans": tracer.spans}, f)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not r["ok"] for r in records)
    print("diagnostics " + json.dumps(diag, default=str))
    print(json.dumps({
        "correct": failed == 0 and not wl.setup_failures,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
