"""Medallion pipeline — the engine's lifecycle surface (SURVEY.md §3).

The reference runs 10 sequential stages with file-materialized handoff
(ref scripts/run_full_pipeline.py:2231+; stage boundaries at :551, :589,
:618, :651, :723). Here each stage is a lazy DataFrame graph and the layer
boundaries are partitioned Parquet tables, preserving the reference's
re-entrancy (`--start-from-etl`): any layer can be rebuilt from the previous
one without recomputing upstream.

Layers (all snappy Parquet, written under ``<out_dir>/<layer>``), with
the Spark jobs each build runs:

- bronze/events          raw events, partitioned by event_date (partition
                         pruning for every downstream temporal filter);
                         2 jobs once the events schema is known (the
                         Catalog infers it on a process's first read)
- silver/daily           per-day per-type stats, the per-type columns of
                         daily.day_frame's one conditional aggregate (A1
                         pivot fusion); 2 jobs: the groupBy's map stage
                         and the write
- gold/unified           silver keyed by date. The date spine (J2,
                         joins.spine_merge) unifies SEVERAL daily domains
                         onto one spine; silver is a single domain already
                         one row per date, so its spine would be an
                         identity costing a shuffle, and the layer is
                         silver as written
- gold/labeled           whole-frame z-scores + PBSI composite + exact
                         window-percentile labels (A7/A8,
                         build_pbsi.py:139-176)
- gold/segments          gaps-and-islands segment table (W6), read from the
                         written labeled layer; gold is 3 jobs, one per write

Reads of layers the build wrote declare their schema, so none runs a
schema-inference job. ``EVENT_TYPES`` declares the event types silver
aggregates, one n/mean/sum triple each (null on a day without that type);
other types are ignored. The testdata types are not physiological
signals, so the list is a modelling choice, not read from the data; it
seeds ROADMAP item 6's domain map.

Gold is one population-wide daily series, tens of rows, so each gold step
reads its input on one partition (``coalesce(1)``): the whole-frame
windows and the segment groupBy then plan with no exchange, where a
``Window.partitionBy()`` would shuffle every row to one task anyway.

At 100 TB: bronze is the only full-size layer and is written once,
partitioned on the date key every later stage filters or joins on; silver
and gold are daily-grain (thousands of rows per participant) and cheap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators import daily, labels, windows
from .sources.readers import Catalog

# sorted; gold's composite takes the first three (see the module docstring)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
BRONZE_SCHEMA = "event_type STRING, value DOUBLE, event_date DATE"
SILVER_SCHEMA = "date DATE, " + ", ".join(
    f"{t}_n BIGINT, {t}_mean DOUBLE, {t}_sum DOUBLE" for t in EVENT_TYPES
)


def build_bronze(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Ingest events to the partitioned bronze table (S7 event cache)."""
    path = os.path.join(out_dir, "bronze", "events")
    ev = Catalog(spark, sf_dir).events
    (
        ev.withColumn("event_date", F.to_date("ts"))
        .repartition(F.col("event_date"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )
    return path


def build_silver(spark: SparkSession, bronze_path: str, out_dir: str) -> str:
    """Daily per-type metrics from bronze in one aggregate (A1/A4 pivot
    fusion; S7 daily cache — the reference's 180x-speedup layer): the
    per-type columns of ``daily.day_frame``, one row per date,
    ``<type>_n``/``_mean``/``_sum`` per declared type, null on a day
    without that type."""
    path = os.path.join(out_dir, "silver", "daily")
    ev = spark.read.schema(BRONZE_SCHEMA).parquet(bronze_path)
    cols = [f"{t}_{m}" for t in EVENT_TYPES for m in ("n", "mean", "sum")]
    daily.day_frame(ev, F.col("event_date"), [], EVENT_TYPES).select(
        "date", *cols
    ).write.mode("overwrite").parquet(path)
    return path


def build_gold(spark: SparkSession, silver_path: str, out_dir: str) -> dict[str, str]:
    """Unified + labeled + segments gold layers (J2, A7/A8, W6).

    Every layer is daily-grain, so each step reads the layer written
    before it, on one partition, and runs one job: its own write."""

    def read(path: str, schema: str):
        # one partition satisfies the whole-frame windows and the segment
        # groupBy, so they plan with no exchange; ROADMAP item 2 replaces
        # this with partitioning on user_id
        return spark.read.schema(schema).parquet(path).coalesce(1)

    unified_path = os.path.join(out_dir, "gold", "unified")
    read(silver_path, SILVER_SCHEMA).write.mode("overwrite").parquet(unified_path)

    labeled_path = os.path.join(out_dir, "gold", "labeled")
    num_cols = [f"{t}_mean" for t in EVENT_TYPES[:3]]
    z = labels.segment_zscore(read(unified_path, SILVER_SCHEMA), num_cols, None)
    zcols = {f"z_{c}": round(1.0 / len(num_cols), 2) for c in num_cols}
    comp = labels.weighted_composite(z, zcols, "pbsi_score")
    labels.quantile_3way_label(comp, "pbsi_score", bounded=True).write.mode(
        "overwrite"
    ).parquet(labeled_path)

    segments_path = os.path.join(out_dir, "gold", "segments")
    seg = windows.gaps_and_islands(
        read(labeled_path, "date DATE"), "date", [], max_gap_days=1
    )
    windows.segment_summary(seg, "date", []).write.mode("overwrite").parquet(
        segments_path
    )
    return {
        "unified": unified_path,
        "labeled": labeled_path,
        "segments": segments_path,
    }


def main(argv: list[str] | None = None) -> None:
    """Module CLI, mirroring the reference's per-stage entry points
    (ref stage_csv_aggregation.py:1294-1308 etc.):
    ``python -m practicum2_nof1_adhd_bd_spark.pipeline --sf-dir ... --out ...``
    """
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser(description="Run the medallion pipeline")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument(
        "--from-layer",
        choices=["bronze", "silver", "gold"],
        default="bronze",
        help="re-entrancy: resume from an existing earlier layer",
    )
    args = ap.parse_args(argv)
    spark = get_spark("medallion")
    spark.sparkContext.setLogLevel("WARN")
    if args.from_layer == "bronze":
        paths = run_medallion(spark, args.sf_dir, args.out)
    elif args.from_layer == "silver":
        silver = build_silver(
            spark, os.path.join(args.out, "bronze", "events"), args.out
        )
        paths = {"silver": silver, **build_gold(spark, silver, args.out)}
    else:
        paths = build_gold(
            spark, os.path.join(args.out, "silver", "daily"), args.out
        )
    for layer, path in paths.items():
        print(f"{layer}: {path}")


def run_medallion(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, str]:
    """Full lifecycle: bronze -> silver -> gold, file-materialized like the
    reference's stage handoff. Returns the layer paths. Each build_* step is
    independently re-runnable from the prior layer (re-entrancy contract,
    ref run_full_pipeline.py --start-stage)."""
    bronze = build_bronze(spark, sf_dir, out_dir)
    silver = build_silver(spark, bronze, out_dir)
    gold = build_gold(spark, silver, out_dir)
    return {"bronze": bronze, "silver": silver, **gold}


if __name__ == "__main__":
    main()
