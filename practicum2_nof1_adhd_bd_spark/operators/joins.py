"""Join operators — SURVEY.md §2.3 J1-J9 and set ops §2.7.

The reference merges daily domain tables with pandas merge/concat
(ref stage_unify_daily.py:103-216,441-460). Here each pattern is a reusable
DataFrame combinator. Scale notes:

- The date spine keys on low-cardinality dates; at 100 TB the daily tables
  are tiny relative to events, so the spine merges them on one partition
  with one union and one aggregate instead of joins.
- The coalescing merge is expressed as anti-join + unionByName, which Catalyst
  plans as a broadcast anti-join when the preferred side is small.
- Missing-day detection uses sequence+explode+anti-join, never a driver loop.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spine_merge(tables: list[DataFrame], date_col: str = "date") -> DataFrame:
    """J2 — every domain table on the date spine, the distinct union of
    their dates (ref stage_unify_daily.py:441-460): the rows of left-joining
    each table onto the spine, NaNs preserved (no ffill). Each table holds
    at most one row per date and the value columns are disjoint.

    One union and one aggregate on one partition: each table contributes
    its values on its own dates and null elsewhere, so the max of a column
    per date is the one value the left join would attach. A null date is
    a spine row of nulls, as it matches nothing in the join. Daily tables
    are date-grain, so one partition holds them and the aggregate needs no
    exchange; two spine joins would shuffle each table twice."""
    date = F.col(date_col)
    parts = [t.withColumn(date_col, date.cast("date")) for t in tables]
    values = [c for t in tables for c in t.columns if c != date_col]
    return (
        reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
        .coalesce(1)
        .groupBy(date_col)
        .agg(*[F.max(F.when(date.isNotNull(), F.col(c))).alias(c) for c in values])
    )


def coalescing_merge(
    preferred: DataFrame, fallback: DataFrame, key: str = "date"
) -> DataFrame:
    """J3 — vendor-preference merge: all preferred rows, plus fallback rows
    whose key is absent from preferred (ref stage_unify_daily.py:103-111:
    Apple sleep wins; Zepp fills gaps)."""
    gap_rows = fallback.join(preferred.select(key), on=key, how="left_anti")
    return preferred.unionByName(gap_rows)


def union_fusion_mean(
    dfs: list[DataFrame], key: str, value_cols: list[str], round_dp: int = 6
) -> DataFrame:
    """J4 — concat vendors then per-key MEAN of each metric
    (ref stage_unify_daily.py:150-164: cardio across Apple+Zepp)."""
    unioned = reduce(DataFrame.unionByName, dfs)
    return unioned.groupBy(key).agg(
        *[F.round(F.avg(c), round_dp).alias(c) for c in value_cols]
    )


def union_fusion_sum(
    dfs: list[DataFrame], key: str, value_cols: list[str], round_dp: int = 2
) -> DataFrame:
    """J5 — concat vendors then per-key SUM (ref stage_unify_daily.py:205-216:
    activity steps/distance/energy summed across vendors)."""
    unioned = reduce(DataFrame.unionByName, dfs)
    return unioned.groupBy(key).agg(
        *[F.round(F.sum(c), round_dp).alias(c) for c in value_cols]
    )


def nway_outer_merge(dfs: list[DataFrame], key: str = "date") -> DataFrame:
    """J7 — successive full-outer joins on the key
    (ref src/domains/zepp_join.py:33-44)."""
    return reduce(lambda a, b: a.join(b, on=key, how="full_outer"), dfs)


def boundary_range_join(
    df: DataFrame,
    boundaries: DataFrame,
    date_col: str,
    boundary_col: str,
    window_days: int,
) -> DataFrame:
    """J8 — for each boundary b, attach rows in [b - window, b) as 'before'
    and [b, b + window) as 'after' (ref ml7_analysis.py:410-424, the KS drift
    windows). Returns df columns + boundary + side.

    Expressed as a range join; with AQE and a small boundary table Catalyst
    broadcasts the boundary side, so no shuffle of the big table.
    """
    d, b = F.col(date_col), F.col(boundary_col)
    lo = F.date_sub(b, window_days)
    hi = F.date_add(b, window_days)
    joined = df.join(
        F.broadcast(boundaries), (d >= lo) & (d < hi), how="inner"
    )
    return joined.withColumn(
        "side", F.when(d < b, F.lit("before")).otherwise(F.lit("after"))
    )


def point_in_interval_join(
    df: DataFrame,
    intervals: DataFrame,
    date_col: str,
    start_col: str = "start_date",
    end_col: str = "end_date",
) -> DataFrame:
    """J9 — assign each row the interval containing its date
    (ref src/biomarkers/segmentation.py:98-156: fixed calendar segments).
    Interval table is small -> broadcast."""
    return df.join(
        F.broadcast(intervals),
        F.col(date_col).between(F.col(start_col), F.col(end_col)),
        how="left",
    )


def missing_days(df: DataFrame, date_col: str = "date") -> DataFrame:
    """§2.7 — days absent between global min and max date
    (ref etl_audit.py:290-297 does set(pd.date_range) - set(dates)).

    sequence+explode of the [min,max] span (a 1-row frame -> tiny explode),
    anti-joined against observed dates. No driver-side date loop.
    """
    span = df.agg(
        F.min(F.col(date_col).cast("date")).alias("d0"),
        F.max(F.col(date_col).cast("date")).alias("d1"),
    )
    all_days = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias(date_col)
    )
    present = df.select(F.col(date_col).cast("date").alias(date_col)).distinct()
    return all_days.join(present, on=date_col, how="left_anti")


def asof_latest(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    cutoff,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """S2/J10 — deterministic as-of selection: per key, the single latest row
    with ts <= cutoff (ref run_full_pipeline.py:265-359 picks the newest
    candidate file whose parsed date <= snapshot; same max-by-under-predicate
    shape at row scale).

    Expressed as a groupBy max_by — one shuffle on the key, no window sort;
    at 100 TB the cutoff predicate prunes partitions before the shuffle.
    """
    from pyspark.sql import functions as F

    value_cols = value_cols or [
        c for c in df.columns if c not in key_cols and c != ts_col
    ]
    pruned = df.filter(F.col(ts_col) <= cutoff)
    return pruned.groupBy(*key_cols).agg(
        F.max(ts_col).alias(f"{ts_col}_latest"),
        *[F.expr(f"max_by({c}, {ts_col})").alias(f"{c}_at") for c in value_cols],
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    l_bounds: tuple[str, str],
    r_bounds: tuple[str, str],
    bucket_size: int,
) -> DataFrame:
    """Interval x interval overlap join where BOTH sides are large.

    ``boundary_range_join`` / ``point_in_interval_join`` broadcast a
    small interval side; when both sides are corpus-scale a theta join
    (``l.start < r.end AND r.start < l.end``) degenerates to a
    per-key cross product. This re-expresses it as an EQUI-join: each
    interval explodes to the ``bucket_size``-wide buckets it covers
    (``sequence`` + ``explode``, JVM-side), the join key becomes
    (*on, bucket), and two overlapping intervals necessarily co-occur in
    the bucket containing ``greatest(l.start, r.start)`` — emitting the
    pair ONLY in that bucket makes the output exactly-once with no
    distinct/dedup shuffle. Work scales with sum(interval_len)/bucket
    + true pair count, never |L| x |R|; pick ``bucket_size`` near the
    typical interval length so most intervals land in O(1) buckets.

    Bounds are numeric (epoch seconds for time intervals — cast
    upstream) and intervals are half-open [start, end): touching
    intervals do not match. Column names must be disjoint apart from
    ``on``; output carries every column of both sides plus
    ``overlap_start/overlap_end/overlap_len``.
    """
    ls, le = (F.col(c) for c in l_bounds)
    rs, re_ = (F.col(c) for c in r_bounds)
    # empty intervals ([s, s) under half-open semantics) can match nothing
    # and would make `sequence` run DESCENDING (Spark infers step -1);
    # drop them before bucketing
    left = left.filter(le > ls)
    right = right.filter(re_ > rs)
    lb = left.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(ls / bucket_size), F.floor((le - 1) / bucket_size)
            )
        ),
    )
    rb = right.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(rs / bucket_size), F.floor((re_ - 1) / bucket_size)
            )
        ),
    )
    ov_start = F.greatest(ls, rs)
    joined = lb.join(rb, [*on, "_bkt"]).filter(
        (ls < re_) & (rs < le) & (F.col("_bkt") == F.floor(ov_start / bucket_size))
    )
    return joined.drop("_bkt").select(
        "*",
        ov_start.alias("overlap_start"),
        F.least(le, re_).alias("overlap_end"),
        (F.least(le, re_) - ov_start).alias("overlap_len"),
    )
