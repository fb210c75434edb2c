"""Daily (tumbling 1-day) aggregations — SURVEY.md §2.4 A1-A6, A11.

The reference aggregates event streams to per-calendar-day metrics with dict
accumulators / pandas groupby (ref stage_csv_aggregation.py:418-431,611-624,
937-941). Here each is a single ``groupBy(to_date(ts))`` — map-side partial
aggregation makes these shuffle only pre-aggregated partials, so they scale
linearly with executor count at 100 TB. All stats stay JVM-side.

``day_frame`` is the one daily table of the wearable metrics: silver's
per-type columns and the all-type totals, which ``pipeline.build_silver``
and the registry's day-grain queries select from instead of each writing
its own aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def range_filter(df: DataFrame, col: str, lo: float, hi: float) -> DataFrame:
    """Biological-range filter (F1/F2): keep lo <= col <= hi.

    ref stage_csv_aggregation.py:272-273 (HR 30-220), :521-523 (HRV 5-300).
    Pushed down to the parquet scan by Catalyst.
    """
    return df.filter(F.col(col).between(lo, hi))


def daily_stats(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    extra_keys: list[str] | None = None,
    sample_std: bool = True,
    round_dp: int | None = 6,
) -> DataFrame:
    """A1 — per-day mean/min/max/std/count of a value stream.

    ref stage_csv_aggregation.py:418-431 uses np.std (population) on one path
    and pandas .std (sample) on another (:938); ``sample_std`` picks.
    """
    std = F.stddev_samp(value_col) if sample_std else F.stddev_pop(value_col)
    mean = F.avg(value_col)
    if round_dp is not None:
        std = F.round(std, round_dp)
        mean = F.round(mean, round_dp)
    keys = [F.to_date(F.col(ts_col)).alias("date")] + [F.col(k) for k in (extra_keys or [])]
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        mean.alias("value_mean"),
        F.min(value_col).alias("value_min"),
        F.max(value_col).alias("value_max"),
        std.alias("value_std"),
    )


def day_frame(
    events: DataFrame, date: Column, keys: list[str], types: tuple[str, ...]
) -> DataFrame:
    """The daily metrics of silver and the wearable queries, one row per
    ``date`` (and ``keys``) in one conditional aggregate:

    - per event type ``t`` in ``types``: ``<t>_n`` (null on a day without
      ``t``), ``<t>_mean`` (6 dp) and ``<t>_sum`` (2 dp);
    - over all types: ``n_events``, ``value_mean`` (6 dp), ``value_sum``
      (2 dp) and, when the events carry ``user_id``, ``n_users``.

    Callers select what they read; column pruning drops the rest of the
    aggregate, so a projection costs what its own aggregate would."""
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("value_mean"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    ]
    if "user_id" in events.columns:
        aggs.append(F.countDistinct("user_id").alias("n_users"))
    for t in types:
        is_t = F.col("event_type") == t
        value = F.when(is_t, F.col("value"))
        aggs += [
            F.sum(F.when(is_t, F.lit(1))).alias(f"{t}_n"),
            F.round(F.avg(value), 6).alias(f"{t}_mean"),
            F.round(F.sum(value), 2).alias(f"{t}_sum"),
        ]
    return events.groupBy(date.alias("date"), *keys).agg(*aggs)


def daily_median_stats(
    df: DataFrame, ts_col: str = "ts", value_col: str = "value", round_dp: int = 6
) -> DataFrame:
    """A2 — per-day mean/median/min/max/count (HRV daily stats,
    ref stage_csv_aggregation.py:611-624). Exact interpolated median
    (Spark ``median`` == DuckDB ``quantile_cont(0.5)``)."""
    return df.groupBy(F.to_date(F.col(ts_col)).alias("date")).agg(
        F.round(F.avg(value_col), round_dp).alias("value_mean"),
        F.round(F.median(value_col), round_dp).alias("value_median"),
        F.min(value_col).alias("value_min"),
        F.max(value_col).alias("value_max"),
        F.count(value_col).alias("n_values"),
    )


def daily_pivot_sum(
    df: DataFrame,
    ts_col: str,
    pivot_col: str,
    value_col: str,
    categories: list[str],
    round_dp: int = 2,
) -> DataFrame:
    """A11 — pivot a category column into per-day sum columns
    (ref sleep_from_extracted.py:414-431: sleep stages -> columns).

    Categories are passed explicitly so the plan avoids the extra
    distinct-collection job Spark otherwise runs — required at 100 TB.
    """
    piv = (
        df.groupBy(F.to_date(F.col(ts_col)).alias("date"))
        .pivot(pivot_col, categories)
        .sum(value_col)
    )
    for c in categories:
        piv = piv.withColumn(c, F.round(F.coalesce(F.col(c), F.lit(0.0)), round_dp))
    return piv


def daily_collected_set(
    df: DataFrame, ts_col: str, tag_col: str, value_col: str
) -> DataFrame:
    """A5 — meds-style daily agg: event count, value sum, sorted comma-joined
    set of tags, any-flag (ref meds_from_extracted.py:324-338,460-484)."""
    return df.groupBy(F.to_date(F.col(ts_col)).alias("date")).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.round(F.sum(value_col), 2).alias("value_total"),
        F.array_join(F.array_sort(F.collect_set(tag_col)), ", ").alias("tags"),
        (F.count(F.lit(1)) > 0).cast("int").alias("any_flag"),
    )


def last_by_order(
    df: DataFrame, key_col: str, order_col: str, value_col: str
) -> DataFrame:
    """A6 (last-by-timestamp) — per key: mean, LAST value by event order,
    first value, count (ref som_from_autoexport.py:348-385: last valence of
    the day). ``max_by``/``min_by`` avoid a window shuffle."""
    return df.groupBy(key_col).agg(
        F.round(F.avg(value_col), 6).alias("value_mean"),
        F.max_by(value_col, F.col(order_col)).alias("value_last"),
        F.min_by(value_col, F.col(order_col)).alias("value_first"),
        F.count(value_col).alias("n_entries"),
    )


def deterministic_mode(df: DataFrame, key_col: Column | str, cat_col: str) -> DataFrame:
    """A6 (mode) — per-key modal category with a deterministic tie-break
    (count desc, category asc), ref som_from_autoexport.py:362-368.

    Implemented as count + row_number so the result is engine-portable
    (builtin ``mode`` breaks ties arbitrarily).
    """
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    counted = df.groupBy(key.alias("key"), F.col(cat_col).alias("category")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("key").orderBy(F.desc("cnt"), F.asc("category"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", F.col("category").alias("modal_category"), F.col("cnt").alias("modal_count"))
    )


def missingness_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """A10 — per-column null count + pct (ref stage_unify_daily.py:469-482).

    Single full-scan agg; returns one tall row per column via stack.
    """
    total = F.count(F.lit(1))
    aggs = [total.alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("int")).alias(f"nulls_{c}") for c in cols
    ]
    wide = df.agg(*aggs)
    stack_expr = ", ".join([f"'{c}', nulls_{c}" for c in cols])
    return wide.select(
        F.expr(f"stack({len(cols)}, {stack_expr}) as (column_name, n_null)"),
        F.col("n_rows"),
    ).select(
        "column_name",
        "n_null",
        F.round(F.col("n_null") / F.col("n_rows") * 100, 6).alias("pct_null"),
    )
