"""The closed-loop workloads: one client, one Spark session, the next op
sent only after the previous one returned.

Each workload computes its expected values in ``setup`` (outside Spark)
and warms up, then yields *units* of ops: one build per unit for
``wearable_etl``, one shuffled pass over the query mix for
``wearable_analytics``. ``execute`` is the timed part of an op; ``check``
and ``after`` run untimed.
"""

from __future__ import annotations

import math
import os
import random
import shutil

import pyarrow.dataset as pads
import pyarrow.compute as pc

import inputs

# The first build in a fresh JVM is cold (class loading, JIT, codegen) and
# takes ~4x a warm one, so set-up runs it untimed. Later builds still vary
# by +-10-20 % (JIT progress, host load), so a run times at least five and
# reports their median. The query mix is warmed by its correctness pass.
ETL_WARMUP_BUILDS = 1

# query -> the operator module that does its work
ANALYTICS_MIX = {
    "daily_event_stats": "daily",
    "date_spine_unify": "joins",
    "rolling_7d_mean_by_user": "windows",
    "rolling_corr_7d": "windows",
    "gaps_islands_segments": "windows",
    "quantile_3way_label": "labels",
    "pbsi_composite": "labels",
    "ks_drift": "drift",
    "temporal_instability_scores": "drift",
    "hrv_time_domain": "biomarkers",
    "circadian_midpoint": "biomarkers",
    "calendar_month_folds": "folds",
    "adwin_changes": "drift",
    "impute_segments": "impute",
    "user_sessions": "windows",
    "etl_audit_report": "audit",
}


def operator_metric(query: str) -> str:
    return f"operators.{ANALYTICS_MIX[query]}.{query}_ms"


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes of every file under ``path``, number of parquet data files)."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet") and not n.startswith((".", "_"))
    return total, files


def _rows(path: str, hive: bool = False) -> int:
    return pads.dataset(
        path, format="parquet", partitioning="hive" if hive else None
    ).count_rows()


def normalize(rows, columns) -> list[tuple]:
    """Columns sorted by name, rows sorted, floats as 9-dp strings — the
    order-insensitive comparison the engine's DuckDB oracles are written
    against."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{round(v, 9):.9f}"
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    return sorted(tuple(norm(r[i]) for i in idx) for r in rows)


class Workload:
    name = ""
    min_units = 1  # timed units a run makes even when the time is up

    def __init__(self, spark, pkg, data_dir, work_dir, seed, tracer):
        self.spark = spark
        self.pkg = pkg
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.setup_failures: list[str] = []

    def setup(self) -> None:
        raise NotImplementedError

    def units(self):
        raise NotImplementedError

    def execute(self, op):
        raise NotImplementedError

    def check(self, op, out) -> bool:
        raise NotImplementedError

    def after(self, op, out) -> None:
        pass

    def kind(self, op) -> str:
        return self.name


class WearableEtl(Workload):
    """Full medallion builds into a fresh directory per op."""

    name = "wearable_etl"
    min_units = 5

    def setup(self):
        self.expected = inputs.expected_medallion(self.data_dir)
        self.input_bytes = os.path.getsize(os.path.join(self.data_dir, "events.parquet"))
        self.layout: list[dict] = []
        self.n = 0
        for i in range(ETL_WARMUP_BUILDS):
            warm = ("warmup", os.path.join(self.work_dir, f"etl-warmup-{i}"))
            with self.tracer.span("warmup"):
                out = self.execute(warm)
            if not self.check(warm, out):
                self.setup_failures.append(f"warm-up build {i}")
            self.after(warm, out)
        self.layout.clear()

    def units(self):
        while True:
            self.n += 1
            yield [("build", os.path.join(self.work_dir, f"etl-{self.n}"))]

    def execute(self, op):
        p, t = self.pkg.pipeline, self.tracer
        out_dir = op[1]
        with t.span("pipeline.build_bronze"):
            bronze = p.build_bronze(self.spark, self.data_dir, out_dir)
        with t.span("pipeline.build_silver"):
            silver = p.build_silver(self.spark, bronze, out_dir)
        with t.span("pipeline.build_gold"):
            gold = p.build_gold(self.spark, silver, out_dir)
        return {"root": out_dir, "bronze": bronze, "silver": silver, **gold}

    def check(self, op, out) -> bool:
        got = {
            "bronze": _rows(out["bronze"], hive=True),
            "silver": _rows(out["silver"]),
            "unified": _rows(out["unified"]),
            "labeled": _rows(out["labeled"]),
            "segments": _rows(out["segments"]),
        }
        labels = pads.dataset(out["labeled"], format="parquet").to_table(["label_3cls"])
        label_set = set(pc.unique(labels["label_3cls"]).to_pylist())
        written, _ = _tree_bytes(out["root"])
        _, bronze_files = _tree_bytes(out["bronze"])
        self.layout.append({"bytes_written": written, "bronze_files": bronze_files})
        return got == self.expected and label_set <= {-1, 0, 1}

    def after(self, op, out):
        shutil.rmtree(op[1], ignore_errors=True)


class WearableAnalytics(Workload):
    """Shuffled passes over the wearable query mix, each to the noop sink."""

    name = "wearable_analytics"

    def setup(self):
        reg = self.pkg.registry
        self.expected_rows: dict[str, int] = {}
        with inputs.duck(self.data_dir) as con, self.tracer.span("warmup"):
            for q in ANALYTICS_MIX:
                df = reg.QUERIES[q](self.spark, self.data_dir)
                rows = df.collect()
                self.spark.catalog.clearCache()
                self.expected_rows[q] = len(rows)
                if q in reg.ORACLES:
                    rel = con.sql(reg.ORACLES[q])
                    ok = normalize(rows, df.columns) == normalize(rel.fetchall(), rel.columns)
                else:
                    ok = len(rows) > 0
                if not ok:
                    self.setup_failures.append(q)
        self.rng = random.Random(self.seed)

    def units(self):
        while True:
            order = list(ANALYTICS_MIX)
            self.rng.shuffle(order)
            yield [("query", q) for q in order]

    def kind(self, op):
        return op[1]

    def execute(self, op):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        q, t = op[1], self.tracer
        with t.span("registry.plan"):
            df = self.pkg.registry.QUERIES[q](self.spark, self.data_dir)
        with t.span("registry.exec"):
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
            return obs.get["n"]

    def check(self, op, out) -> bool:
        q = op[1]
        return q not in self.setup_failures and out == self.expected_rows[q]

    def after(self, op, out):
        self.spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (WearableEtl, WearableAnalytics)}
