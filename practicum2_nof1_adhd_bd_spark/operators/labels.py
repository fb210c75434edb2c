"""Label layer — SURVEY.md §2 A7/A8 + the PBSI composite (build_pbsi.py).

The reference computes segment-wise z-scores, weighted linear composites,
and percentile-threshold labels with row-wise pandas applies
(ref src/labels/build_pbsi.py:84-176,224-253). Here everything is pure
column algebra over windows — no UDFs, fully codegen'd.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import clip
from ..sources.readers import literal_frame


def segment_zscore(
    df: DataFrame,
    value_cols: list[str],
    segment_col: str | None = "segment_id",
    round_dp: int = 6,
    prefix: str = "z_",
) -> DataFrame:
    """A7 — per-segment z-score; std==0 or all-null => 0.0
    (ref build_pbsi.py:84-111). ``segment_col=None`` treats the whole
    frame as one segment: an unpartitioned window, which runs in one
    task, so pass it only daily-grain frames."""
    w = Window.partitionBy(*([segment_col] if segment_col else []))

    def z(c: str):
        mu, sd = F.avg(c).over(w), F.stddev_samp(c).over(w)
        z = F.when(sd > 0, (F.col(c) - mu) / sd).otherwise(F.lit(0.0))
        return F.round(z, round_dp)

    return df.withColumns({f"{prefix}{c}": z(c) for c in value_cols})


def weighted_composite(
    df: DataFrame,
    weights: dict[str, float],
    out_col: str,
    clip_lo: float = -3.0,
    clip_hi: float = 3.0,
    round_dp: int = 6,
) -> DataFrame:
    """§2.8 — weighted linear composite, clipped (ref build_pbsi.py:139-167:
    sleep_sub = 0.6*z_dur + 0.4*z_eff etc., subscores clipped to +-3).
    Null inputs are treated as 0 contribution (reference fills z of missing
    domains with 0)."""
    expr = None
    for c, wgt in weights.items():
        term = F.coalesce(F.col(c), F.lit(0.0)) * F.lit(float(wgt))
        expr = term if expr is None else expr + term
    return df.withColumn(out_col, F.round(clip(expr, clip_lo, clip_hi), round_dp))


def refined_exact_quantile_thresholds(
    df: DataFrame,
    value_col: str,
    probs: tuple[float, float] = (0.25, 0.75),
    accuracy: int = 1_000,
    stats_out: dict | None = None,
) -> DataFrame:
    """EXACT interpolated percentiles via sketch-guided refinement, in
    place of the built-in `percentile` aggregate's value-count map (whose
    single-task merge state grows with the number of distinct values).

    Two scans, each one global aggregate collected as one row of scalars:

    1. count + GK sketch bounds at p +- 3/accuracy. The sketch's rank
       error is at most n/accuracy, so each bracket covers its cut's
       order statistics (for n <= accuracy the sketch is exact and a
       bracket can collapse onto one of them);
    2. per cut: the largest value below the bracket (``prv``), the
       smallest above it (``nxt``), the count below it and the bracket's
       values sorted — O(n/accuracy) of them, not O(n).

    The order statistics at floor/ceil(p(n-1)) are read off ``prv``, the
    bracket or ``nxt`` and interpolated with the built-in `percentile`'s
    formula, so the results are bit-identical to it (asserted in tests);
    should a rank fall outside its bracket, that aggregate answers. At
    n=10^12, accuracy=10^6 keeps each collected bracket under ~10^7 values.
    Returns a 1-row (p_lo, p_hi) frame; the two scalars are collected.
    """
    v = F.col(value_col).cast("double")
    vals = df.select(v.alias("_v")).filter(F.col("_v").isNotNull())
    v = F.col("_v")
    eps = 3.0 / accuracy
    bounds = [(max(0.0, p - eps), min(1.0, p + eps)) for p in probs]
    edges = ", ".join(str(b) for lo_hi in bounds for b in lo_hi)
    stats = _scalars(
        vals,
        F.count(v).alias("n"),
        F.expr(f"approx_percentile(_v, array({edges}), {accuracy})").alias("b"),
    )
    n, b = stats["n"], stats["b"]
    if stats_out is not None:
        stats_out["n"] = n
        stats_out["bracket_rows"] = 0
    if n == 0:
        return _threshold_frame(df, None, None)
    aggs = []
    for k in range(len(probs)):
        lo, hi = F.lit(b[2 * k]), F.lit(b[2 * k + 1])
        aggs += [
            F.max(F.when(v < lo, v)).alias(f"prv{k}"),
            F.min(F.when(v > hi, v)).alias(f"nxt{k}"),
            F.count(F.when(v < lo, v)).alias(f"below{k}"),
            F.sort_array(F.collect_list(F.when(v.between(lo, hi), v))).alias(
                f"bracket{k}"
            ),
        ]
    row = _scalars(vals, *aggs)
    out = []
    for k, p in enumerate(probs):
        below, bracket = row[f"below{k}"], row[f"bracket{k}"]
        if stats_out is not None:
            stats_out["bracket_rows"] += len(bracket)
        ranked = [row[f"prv{k}"], *bracket, row[f"nxt{k}"]]
        # Spark's Percentile.getPercentile, step for step; the order
        # statistic of global rank r is ranked[r - below + 1]
        pos = (n - 1) * p
        lower, higher = math.floor(pos), math.ceil(pos)
        lower_key, higher_key = (
            ranked[i] if 0 <= (i := r - below + 1) < len(ranked) else None
            for r in (lower, higher)
        )
        if lower_key is None or higher_key is None:
            out.append(vals.agg(F.percentile(v, p)).first()[0])
        elif lower == higher or lower_key == higher_key:
            out.append(lower_key)
        else:
            out.append((higher - pos) * lower_key + (pos - lower) * higher_key)
    return _threshold_frame(df, *out)


def _threshold_frame(df: DataFrame, p_lo, p_hi) -> DataFrame:
    """The 1-row (p_lo, p_hi) frame of literals, which the optimizer folds
    into the label expression."""
    return literal_frame(df.sparkSession, "p_lo double, p_hi double", [(p_lo, p_hi)])


def _scalars(df: DataFrame, *aggs):
    """The row of global aggregates ``aggs`` over ``df`` in one job: AQE
    would run the exchange's map stage as a job of its own."""
    conf = df.sparkSession.conf
    aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.agg(*aggs).collect()[0]
    finally:
        conf.set("spark.sql.adaptive.enabled", aqe)


def approx_quantile_thresholds(
    df: DataFrame,
    value_col: str,
    probs: tuple[float, float] = (0.25, 0.75),
    accuracy: int = 10_000,
) -> DataFrame:
    """A8 first pass, 100-TB variant — approx_percentile (GK sketch) as a
    1-row frame. Same shape as `refined_exact_quantile_thresholds`, but the
    partial state is a bounded sketch (O(accuracy) per task, mergeable), not
    `percentile`'s value-count map over every distinct value, so the merge
    never becomes a single-task bottleneck as the input grows. Error is
    bounded by 1/accuracy relative rank."""
    pq = F.expr(
        f"approx_percentile({value_col}, array({probs[0]}, {probs[1]}), {accuracy})"
    )
    return (
        df.select(value_col)
        .agg(pq.alias("_pq"))
        .select(
            F.col("_pq")[0].cast("double").alias("p_lo"),
            F.col("_pq")[1].cast("double").alias("p_hi"),
        )
    )


def quantile_3way_label(
    df: DataFrame,
    value_col: str,
    probs: tuple[float, float] = (0.25, 0.75),
    label_col: str = "label_3cls",
    exact: bool = True,
    accuracy: int = 10_000,
    bounded: bool = False,
) -> DataFrame:
    """A8 — two-pass percentile labeling: value <= P_lo -> -1, >= P_hi -> +1,
    else 0 (ref build_pbsi.py:173-176,224-253).

    ``exact=True`` reproduces pandas-interpolated percentiles bit-for-bit
    (the oracle contract) via sketch-guided refinement — exact order
    statistics with bounded merge state at any scale (see
    refined_exact_quantile_thresholds; bit-equality with the single-merge
    `percentile` aggregate is asserted in tests). ``exact=False`` swaps in
    the raw approx_percentile sketch — rows whose rank sits within
    1/accuracy of a cut point can flip label, nothing else.

    Their second pass is a broadcast cross-join of the 1-row threshold
    frame. The approximate path's thresholds stay in the plan; the exact
    path collects its two scalars (and its sketch bounds and brackets)
    into Python, so only O(n/accuracy) values ever leave the executors.

    ``bounded=True`` declares the input's distinct-value cardinality
    bounded (daily/calendar-grain frames: at most tens of thousands of
    rows no matter the corpus size). The thresholds are then the
    single-merge ``percentile`` aggregate over a whole-frame window, the
    same value-count map as the refined path's reference: one pass, no
    threshold frame, no join, and the upstream runs once. The window
    runs in one task, so use the default (refined) for event/row-grain
    inputs whose cardinality grows with the data.
    """
    v = F.col(value_col)
    if exact and bounded:
        labeled = df
        lo, hi = (F.percentile(v, p).over(Window.partitionBy()) for p in probs)
    else:
        if exact:
            thresholds = refined_exact_quantile_thresholds(df, value_col, probs)
        else:
            thresholds = approx_quantile_thresholds(df, value_col, probs, accuracy)
        labeled = df.crossJoin(F.broadcast(thresholds))
        lo, hi = F.col("p_lo"), F.col("p_hi")
    return labeled.withColumn(
        label_col, F.when(v <= lo, -1).when(v >= hi, 1).otherwise(0)
    ).drop("p_lo", "p_hi")


def threeway_threshold_label(
    df: DataFrame,
    value_col: str,
    lo: float = -0.33,
    hi: float = 0.33,
    label_col: str = "label_3cls",
) -> DataFrame:
    """§2.8 — fixed 3-way threshold classifier (ref som_from_autoexport.py:
    186-203: valence <= -0.33 / >= +0.33)."""
    v = F.col(value_col)
    return df.withColumn(
        label_col, F.when(v <= lo, -1).when(v >= hi, 1).otherwise(0)
    )


def quality_multiplier(
    df: DataFrame,
    missing_flag_cols: list[str],
    out_col: str = "quality",
    factor: float = 0.8,
    floor: float = 0.5,
) -> DataFrame:
    """§2.8 — data-quality multiplier: *0.8 per missing domain, floored at
    0.5 (ref build_pbsi.py:179-186)."""
    n_missing = None
    for c in missing_flag_cols:
        term = F.coalesce(F.col(c).cast("int"), F.lit(0))
        n_missing = term if n_missing is None else n_missing + term
    return df.withColumn(
        out_col,
        F.round(F.greatest(F.pow(F.lit(factor), n_missing), F.lit(floor)), 6),
    )
