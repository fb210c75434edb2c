"""Same-session interleaved A/B of two code versions: registry queries or medallion builds.

The host shows multi-second CPU-steal waves (documented since r03), so
SESSION-level A/B — one microbench run per code version — confounds the
code delta with whichever contention window each session landed in
(measured r17: medians of IDENTICAL code swing 2-4x between back-to-back
sessions). This tool removes the window confound: it imports the OLD
package from a second checkout, snapshots its query callables, purges
sys.modules, imports the NEW package from the repo root, and then runs
old/new ALTERNATELY inside one warmed JVM — each old/new pair shares its
contention window, so the per-pair ratio is the code signal.

The OLD package is imported under a RENAMED copy (every intra-package
import is relative — verified by grep — so the rename is transparent);
a plain two-path import would break the moment any old function does a
lazy relative import, which re-resolves through sys.modules and would
silently pick up the NEW module. The renamed copy is put on the Python
workers' PYTHONPATH too (the session starts after it is loaded), so
queries with pandas UDFs run on both sides.

``--pipeline`` runs the same interleaving over the medallion instead of
registry queries: each pair is one old and one new
``build_bronze -> build_silver -> build_gold`` into fresh directories,
timed per layer, with each layer's Spark jobs counted through a job group
(``statusTracker().getJobIdsForGroup``), so a layer's gain is attributed
by wall time and by jobs per build in the same contention window. The
untimed warm builds' silver, unified, labeled and segments tables are
compared first (same columns and types, equal rows after sorting), so a
timing is read only for builds with equal outputs.

In query mode each run's Spark jobs are counted through a job group
too, and each version's rows are collected once, untimed, and compared
after perfbench's normalisation (columns sorted by name, floats to 9
dp, rows sorted), so a mix A/B attributes its gain by jobs and times only
queries whose outputs are equal.

``--mix`` times whole passes of perfbench's 16-query analytics mix
(``workloads.ANALYTICS_MIX``), alternating an old pass and a new pass in
one JVM: the one-session stand-in for the workload's ``ops_per_s``. It
checks every mix query's rows first, like query mode.

Usage:
  python tools/ab_interleaved.py --old /tmp/repo_old [-n 5] q1 q2 ...
  python tools/ab_interleaved.py --old /tmp/repo_old --pipeline [-n 7]
  python tools/ab_interleaved.py --old /tmp/repo_old --mix [-n 6]

Prints one JSON line:
  {query: {"old": [...], "new": [...], "pair_ratios": [...],
           "median_pair_ratio": r, "jobs": {"old": n, "new": n}},
   "identical": {query: bool}}   (ratio > 1 -> NEW is faster)
  --pipeline: {"pipeline": {"identical": {table: bool},
               "old": {layer: [s...]}, "new": {...},
               "jobs": {"old": {layer: n}, "new": {...}},
               "pair_ratios": {layer: [...]},
               "median_pair_ratio": {layer: r}}}
  with layer in bronze, silver, gold, total.
  --mix: {"mix": {"identical": {query: bool}, "old": [s...], "new": [s...],
          "pair_ratios": [...], "median_pair_ratio": r,
          "jobs": {"old": n, "new": n}}}   (seconds and jobs per pass)
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

PKG = "practicum2_nof1_adhd_bd_spark"
OLD_PKG = "_ab_old_" + PKG


def _load_old(old_root: str, module: str):
    """Copy the OLD checkout's package under a renamed import name and
    load ``module`` from it — lazy relative imports inside old functions
    then resolve within the renamed package, never the new one."""
    stage = tempfile.mkdtemp(prefix="ab_old_pkg_")
    shutil.copytree(
        os.path.join(old_root, PKG), os.path.join(stage, OLD_PKG)
    )
    sys.path.insert(0, stage)
    # Python workers start from the JVM's environment: let them import
    # the renamed package too, for queries with pandas UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [stage, os.environ.get("PYTHONPATH")])
    )
    return importlib.import_module(f"{OLD_PKG}.{module}")


def _load_new(root: str, module: str):
    sys.path.insert(0, root)
    return importlib.import_module(f"{PKG}.{module}")


LAYERS = ("bronze", "silver", "gold")
# the tables a build writes after bronze, by their path under the build dir
TABLES = {
    "silver": "silver/daily",
    "unified": "gold/unified",
    "labeled": "gold/labeled",
    "segments": "gold/segments",
}


def _build(spark, pipe, sf_dir: str, tag: str, out: str) -> tuple[dict, dict]:
    """One full medallion build into ``out``. Returns seconds per layer
    (plus total) and Spark jobs per layer (plus total)."""
    sc = spark.sparkContext
    secs, jobs = {}, {}
    try:
        prev = sf_dir
        for layer in LAYERS:
            group = f"ab {tag} {layer}"
            sc.setJobGroup(group, group)
            t0 = time.time()
            prev = getattr(pipe, f"build_{layer}")(spark, prev, out)
            secs[layer] = round(time.time() - t0, 3)
            jobs[layer] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    secs["total"] = round(sum(secs.values()), 3)
    jobs["total"] = sum(jobs.values())
    return secs, jobs


def _timed_build(spark, pipe, sf_dir: str, tag: str) -> tuple[dict, dict]:
    out = tempfile.mkdtemp(prefix="ab_build_")
    try:
        return _build(spark, pipe, sf_dir, tag, out)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _same_table(spark, a_path: str, b_path: str) -> bool:
    """Value identity of two written tables: the same columns and types
    in the same order, and equal rows after sorting."""
    a, b = (spark.read.parquet(p) for p in (a_path, b_path))
    if a.dtypes != b.dtypes:
        return False
    a, b = (
        d.toPandas().sort_values(d.columns).reset_index(drop=True) for d in (a, b)
    )
    return a.equals(b)


def _pipeline_ab(spark, old_pipe, new_pipe, sf_dir: str, n: int) -> dict:
    """One untimed warm build of each version, whose written tables are
    compared for value identity; then alternating old/new builds. Pair
    i's ratio is old/new wall time per layer (> 1 -> NEW is faster)."""
    warm = {"old": tempfile.mkdtemp(prefix="ab_old_"),
            "new": tempfile.mkdtemp(prefix="ab_new_")}
    try:
        _build(spark, old_pipe, sf_dir, "warm old", warm["old"])
        _build(spark, new_pipe, sf_dir, "warm new", warm["new"])
        identical = {
            t: _same_table(
                spark, os.path.join(warm["old"], rel), os.path.join(warm["new"], rel)
            )
            for t, rel in TABLES.items()
        }
    finally:
        for d in warm.values():
            shutil.rmtree(d, ignore_errors=True)
    layers = (*LAYERS, "total")
    secs = {"old": {k: [] for k in layers}, "new": {k: [] for k in layers}}
    jobs = {}
    sides = [("old", old_pipe), ("new", new_pipe)]
    for i in range(n):
        # alternate which side runs first, so a pair's position in a
        # contention wave does not favour one version
        for side, pipe in sides if i % 2 == 0 else sides[::-1]:
            s, jobs[side] = _timed_build(spark, pipe, sf_dir, f"{side}[{i}]")
            for k in layers:
                secs[side][k].append(s[k])
    ratios = {
        k: [round(o / nw, 3) for o, nw in zip(secs["old"][k], secs["new"][k])]
        for k in layers
    }
    return {
        "identical": identical,
        **secs,
        "jobs": jobs,
        "pair_ratios": ratios,
        "median_pair_ratio": {
            k: round(statistics.median(r), 3) for k, r in ratios.items()
        },
    }


def _mix_ab(old_q, new_q, names: list[str], n: int, run, rows) -> dict:
    """Whole passes over the query mix, one old and one new per pair in
    the same shuffled order, which side first alternating; pass i's
    ratio is old/new seconds (> 1 -> NEW is faster). Each version's rows
    are compared first, and one untimed pass of each warms both."""
    import random

    identical = {q: rows(old_q[q]) == rows(new_q[q]) for q in names}
    sides = [("old", old_q), ("new", new_q)]
    for side, qs in sides:
        for q in names:
            run(qs[q], f"ab warm {side}: {q}")
    secs = {"old": [], "new": []}
    jobs = {}
    for i in range(n):
        order = random.Random(i).sample(names, len(names))
        for side, qs in sides if i % 2 == 0 else sides[::-1]:
            timed = [run(qs[q], f"ab {side}[{i}]: {q}") for q in order]
            secs[side].append(round(sum(dt for dt, _ in timed), 3))
            jobs[side] = sum(j for _, j in timed)
    ratios = [round(o / nw, 3) for o, nw in zip(secs["old"], secs["new"])]
    return {
        "identical": identical,
        **secs,
        "pair_ratios": ratios,
        "median_pair_ratio": round(statistics.median(ratios), 3),
        "jobs": jobs,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", required=True, help="checkout of the OLD code")
    ap.add_argument("-n", type=int, default=5)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument(
        "--pipeline",
        action="store_true",
        help="A/B the medallion builds instead of registry queries",
    )
    ap.add_argument(
        "--mix",
        action="store_true",
        help="A/B whole passes of perfbench's analytics mix",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if not (args.pipeline or args.mix or args.names):
        ap.error("name at least one query, or pass --pipeline or --mix")

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    module = "pipeline" if args.pipeline else "registry"
    old_mod = _load_old(os.path.abspath(args.old), module)
    new_mod = _load_new(here, module)

    from practicum2_nof1_adhd_bd_spark.session import get_spark

    spark = get_spark("ab-interleaved")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    if args.pipeline:
        res = _pipeline_ab(spark, old_mod, new_mod, args.sf_dir, args.n)
        print(
            "# pipeline: median_pair_ratio "
            + " ".join(f"{k}={v:.2f}" for k, v in res["median_pair_ratio"].items())
            + f" jobs old={res['jobs']['old']} new={res['jobs']['new']}"
            + f" identical={res['identical']}",
            file=sys.stderr,
        )
        print(json.dumps({"pipeline": res}))
        return
    old_q, new_q = dict(old_mod.QUERIES), dict(new_mod.QUERIES)

    def _ident(batches):
        for b in batches:
            yield b

    spark.range(0, 3200, 1, 32).mapInPandas(_ident, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

    sys.path.insert(0, os.path.join(here, "perfbench"))
    from workloads import ANALYTICS_MIX, normalize

    sc = spark.sparkContext

    def run(fn, group: str) -> tuple[float, int]:
        """Seconds and Spark jobs of one query, planned and written to
        the noop sink under the job group ``group``."""
        sc.setJobGroup(group, group)
        try:
            t0 = time.time()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        spark.catalog.clearCache()
        return round(dt, 3), len(sc.statusTracker().getJobIdsForGroup(group))

    def rows(fn) -> list[tuple]:
        df = fn(spark, args.sf_dir)
        out = normalize(df.collect(), df.columns)
        spark.catalog.clearCache()
        return out

    if args.mix:
        res = _mix_ab(old_q, new_q, list(ANALYTICS_MIX), args.n, run, rows)
        print(
            f"# mix: median_pair_ratio={res['median_pair_ratio']:.2f} "
            f"jobs old={res['jobs']['old']} new={res['jobs']['new']} "
            f"identical={all(res['identical'].values())}",
            file=sys.stderr,
        )
        print(json.dumps({"mix": res}))
        return

    out, identical = {}, {}
    for name in args.names:
        # one untimed warm pass per version: JIT + codegen cache for BOTH
        # plan shapes before any timed pair
        identical[name] = rows(old_q[name]) == rows(new_q[name])
        run(old_q[name], f"ab warm old: {name}")
        run(new_q[name], f"ab warm new: {name}")
        secs = {"old": [], "new": []}
        jobs = {}
        sides = [("old", old_q), ("new", new_q)]
        for i in range(args.n):
            for side, q in sides if i % 2 == 0 else sides[::-1]:
                dt, jobs[side] = run(q[name], f"ab {side}[{i}]: {name}")
                secs[side].append(dt)
        olds, news = secs["old"], secs["new"]
        ratios = [round(o / n, 3) for o, n in zip(olds, news)]
        out[name] = {
            "old": olds,
            "new": news,
            "old_median": statistics.median(olds),
            "new_median": statistics.median(news),
            "pair_ratios": ratios,
            "median_pair_ratio": round(statistics.median(ratios), 3),
            "jobs": jobs,
        }
        print(
            f"# {name}: old_med={out[name]['old_median']:.2f} "
            f"new_med={out[name]['new_median']:.2f} "
            f"median_pair_ratio={out[name]['median_pair_ratio']:.2f} "
            f"jobs old={jobs['old']} new={jobs['new']} "
            f"identical={identical[name]}",
            file=sys.stderr,
        )
    print(json.dumps({**out, "identical": identical}))


if __name__ == "__main__":
    main()
