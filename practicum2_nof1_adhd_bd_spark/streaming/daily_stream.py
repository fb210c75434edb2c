"""Structured Streaming surface — SURVEY.md §2.9.

The reference is batch-only; its daily aggregation (A1-A6) is semantically a
1-day tumbling event-time window, and its snapshot cutoff (F4) is
watermarking done by hand. This module exposes the same operators over a
streaming DataFrame so the engine can serve a live events feed:

- daily_stats_stream: watermarked 1-day tumbling window of the A1 stats.
- sessionize_stream: session windows per user (the streaming twin of the
  W6 gap segmenter).

Both take any streaming DataFrame with (ts, value[, user_id]) — file
source, Kafka, rate — and are tested with a file source + availableNow
trigger against the batch operators' results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_stats_stream(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 day",
) -> DataFrame:
    """A1 as a watermarked tumbling window.

    Late rows beyond the watermark are dropped (the streaming analogue of
    the reference's snapshot cutoff F4). Output schema mirrors the batch
    daily_stats: one row per closed day.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(value_col), 6).alias("value_mean"),
            F.min(value_col).alias("value_min"),
            F.max(value_col).alias("value_max"),
            F.round(F.stddev_samp(value_col), 6).alias("value_std"),
        )
        .select(F.to_date("w.start").alias("date"), "n_events", "value_mean",
                "value_min", "value_max", "value_std")
    )


def enriched_daily_stream(
    events: DataFrame,
    dim: DataFrame,
    key_col: str = "user_id",
    group_col: str = "grp",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-static enrichment: J6 (lookup join) over a live feed.

    Each micro-batch joins against the STATIC dimension — Spark re-plans the
    join per batch with no streaming state for the dim side, and the explicit
    broadcast keeps the stream from ever shuffling on the join key (at scale
    the dim is the small side by construction: user/device metadata vs an
    event firehose). Downstream: watermarked 1-day tumbling counts per
    dimension group.
    """
    enriched = (
        events.withWatermark(ts_col, watermark)
        .join(F.broadcast(dim.select(key_col, group_col)), key_col, "left")
    )
    return (
        enriched.groupBy(
            F.window(F.col(ts_col), "1 day").alias("w"), F.col(group_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("value_sum"),
        )
        .select(F.to_date("w.start").alias("date"), group_col, "n_events", "value_sum")
    )


def sessionize_stream(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """W6 at event grain as a session window (gap-based, per user).

    session_window closes a session when no event arrives within ``gap`` —
    exactly the batch sessionize() rule, evaluated incrementally with state
    cleaned up past the watermark.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), gap).alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("value_sum"),
        )
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def daily_exact_stream(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 day",
) -> DataFrame:
    """A1's streaming twin in attestation grade: only order-exact
    aggregates — count, min, max, and the decimal-sum mean (the same
    combine-order-stable formula as the batch _daily_mean; a double
    stddev's partial-merge order could flip round(.,6) at a tie, so it is
    deliberately absent here and lives in daily_stats_stream).

    Run with availableNow + complete mode over a corpus snapshot, the
    final memory-sink table equals the batch daily aggregate bit-for-bit,
    which is what lets a Structured Streaming pipeline sit behind a
    value-hash oracle. Production streams use append mode + the watermark
    for bounded state instead."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(value_col).alias("value_min"),
            F.max(value_col).alias("value_max"),
            F.round(
                F.sum(F.col(value_col).cast("decimal(28,12)")).cast("double")
                / F.count(value_col),
                6,
            ).alias("value_mean"),
        )
        .select(
            F.to_date("w.start").alias("date"),
            "n_events",
            "value_min",
            "value_max",
            "value_mean",
        )
    )


def attribution_join_stream(
    triggers: DataFrame,
    responses: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    horizon_sql: str = "INTERVAL 2 HOURS",
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked stream-stream interval join: the click->conversion
    attribution shape (each response matches every trigger by the same
    key in the preceding ``horizon``), the one streaming operator class
    the rest of §2.9 didn't cover — both sides are UNBOUNDED, so unlike
    stream-static enrichment Spark must buffer state for each.

    The two ingredients that keep that state finite at firehose scale
    (and that Spark REQUIRES for append-mode correctness): a watermark
    on BOTH sides, and an event-time range in the join condition. With
    watermark d and horizon h the trigger buffer can evict rows older
    than wm - h and the response buffer rows older than wm — state is
    O(key-rate x (d + h)), not O(stream length). Inner join only emits
    matched pairs, so results are append-deterministic: the availableNow
    replay of a finite snapshot produces exactly the batch join, which
    is what the oracle attests.
    """
    t = triggers.withWatermark(ts_col, watermark).alias("t")
    r = responses.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"t.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"t.{ts_col}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"t.{ts_col}") + F.expr(horizon_sql))
    )
    return t.join(r, cond, "inner")


def sliding_stats_stream(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 day",
    slide: str = "6 hours",
    watermark: str = "1 day",
) -> DataFrame:
    """Sliding-window aggregate — the overlapping-window shape that
    completes the streaming taxonomy beside the tumbling day
    (daily_exact_stream), session windows (sessionize_stream) and the
    stream-stream interval join: every event contributes to
    window/slide overlapping windows (4 here), the trailing-day view a
    monitoring dashboard reads every 6 hours.

    Attestation grade like daily_exact_stream: order-exact aggregates
    only (count/min/max + decimal-sum), and the window START is emitted
    as epoch SECONDS — Spark's slide grid is epoch-aligned, so the
    batch oracle can regenerate exactly the same 4 window starts per
    event with integer arithmetic (floor(e/slide)*slide - k*slide), no
    timestamp-rendering ambiguity between engines.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(value_col).alias("value_min"),
            F.max(value_col).alias("value_max"),
            F.round(
                F.sum(F.col(value_col).cast("decimal(28,12)")).cast("double")
                / F.count(value_col),
                6,
            ).alias("value_mean"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start_epoch"),
            "n_events",
            "value_min",
            "value_max",
            "value_mean",
        )
    )
