"""Label layer — SURVEY.md §2 A7/A8 + the PBSI composite (build_pbsi.py).

The reference computes segment-wise z-scores, weighted linear composites,
and percentile-threshold labels with row-wise pandas applies
(ref src/labels/build_pbsi.py:84-176,224-253). Here everything is pure
column algebra over windows — no UDFs, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import clip
from ..sources.readers import fan_out


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
    """EXACT interpolated percentiles via sketch-guided refinement — the
    distributed form of exact order statistics, replacing the built-in
    `percentile` aggregate's value-count-map merge (whose single-task
    merge state grows with the number of distinct values).

    Three codegen passes over the single value column:

    1. count + GK sketch bounds at p +- 3/accuracy (the sketch's rank
       error is deterministically <= n/accuracy, so the bracket is
       guaranteed to cover the target order statistics);
    2. ONE merged aggregate for neighbor widening and the
       below-raw-bound counts (converts global rank to in-bracket rank;
       the widened-bound correction is recovered from the candidate
       frame itself — see the inline note);
    3. a range filter down to the bracketed candidates — O(n/accuracy)
       rows, bounded by the accuracy knob, not the data — which alone get
       sorted (per-cut row_number on the tiny frame).

    The k-th / (k+1)-th order statistics then interpolate with exactly the
    built-in `percentile` formula, so results are bit-identical to the
    single-merge aggregate (asserted in tests) while every corpus-width
    stage stays a partial-aggregated scan. At 100 TB, accuracy trades
    bracket width against sketch size: accuracy=10^6 keeps the ranked
    slice under ~10^7 rows for n=10^12.
    """
    p1, p2 = probs
    eps = 3.0 / accuracy
    # persist the projected column (4 passes read it) and every 1-row
    # scalar frame: a crossJoin(broadcast(x)) re-executes x's subtree per
    # consumer otherwise, and stats alone has five consumers.
    vals = fan_out(df.select(value_col)).filter(F.col(value_col).isNotNull()).persist()
    v = F.col(value_col)
    bounds_arr = F.expr(
        f"approx_percentile({value_col}, array("
        f"{max(0.0, p1 - eps)}, {min(1.0, p1 + eps)}, "
        f"{max(0.0, p2 - eps)}, {min(1.0, p2 + eps)}), {accuracy})"
    )
    stats = vals.agg(F.count(v).alias("n"), bounds_arr.alias("_b")).select(
        "n",
        F.col("_b")[0].alias("lo1"),
        F.col("_b")[1].alias("hi1"),
        F.col("_b")[2].alias("lo2"),
        F.col("_b")[3].alias("hi2"),
    ).persist()
    # Widen each bracket to its immediate neighbor values (for n <=
    # accuracy the sketch is exact and the raw bracket can collapse onto
    # a single order statistic, excluding the adjacent one interpolation
    # needs) AND count rows strictly below each RAW low bound — one merged
    # corpus pass (r16; formerly two sequential passes, because the below
    # counts were taken against the widened bounds which exist only after
    # the widening aggregate). The below count against the EFFECTIVE low
    # bound is recovered exactly in the candidate frame: the only values
    # below the raw bound that enter the widened bracket are the copies
    # of prv (the maximum value < raw low), so
    #   #{v < coalesce(prv, lo)} == braw - #{bracket rows with _v < lo}.
    nb = vals.crossJoin(F.broadcast(stats)).agg(
        F.max(F.when(v < F.col("lo1"), v)).alias("prv1"),
        F.min(F.when(v > F.col("hi1"), v)).alias("nxt1"),
        F.max(F.when(v < F.col("lo2"), v)).alias("prv2"),
        F.min(F.when(v > F.col("hi2"), v)).alias("nxt2"),
        F.sum((v < F.col("lo1")).cast("long")).alias("braw1"),
        F.sum((v < F.col("lo2")).cast("long")).alias("braw2"),
    )
    eb = stats.crossJoin(F.broadcast(nb)).select(
        "n",
        F.coalesce("prv1", "lo1").alias("lo1"),
        F.coalesce("nxt1", "hi1").alias("hi1"),
        F.coalesce("prv2", "lo2").alias("lo2"),
        F.coalesce("nxt2", "hi2").alias("hi2"),
        F.col("lo1").alias("raw1"),
        F.col("lo2").alias("raw2"),
        "braw1",
        "braw2",
    ).persist()
    with_b = vals.crossJoin(F.broadcast(eb))
    cand = (
        with_b.select(
            v.alias("_v"),
            F.when((v >= F.col("lo1")) & (v <= F.col("hi1")), 1).alias("_c1"),
            F.when((v >= F.col("lo2")) & (v <= F.col("hi2")), 2).alias("_c2"),
        )
        .select("_v", F.explode(F.array("_c1", "_c2")).alias("cut"))
        .filter(F.col("cut").isNotNull())
    )
    if stats_out is not None:
        # diagnostic mode (scale probes / bound tests): report how many
        # rows actually land in the sketch-guided brackets — the only
        # part of the plan whose size is not a partial-agged scan
        srow = stats.first()
        stats_out["n"] = srow["n"]
        stats_out["bracket_rows"] = cand.count()
    # global target rank r = p*(n-1) (0-based); order stats at floor/ceil(r)
    scalars = eb.select(
        "n", "raw1", "raw2", "braw1", "braw2",
        (F.lit(p1) * (F.col("n") - 1)).alias("r1"),
        (F.lit(p2) * (F.col("n") - 1)).alias("r2"),
    )
    wcut = Window.partitionBy("cut")
    j = (
        cand.crossJoin(F.broadcast(scalars))
        .withColumn("rk", F.row_number().over(wcut.orderBy("_v")))
        # copies of prv inside this cut's bracket: both windows share the
        # cut partitioning, so no second exchange
        .withColumn(
            "eqc",
            F.sum(
                (
                    F.col("_v")
                    < F.when(F.col("cut") == 1, F.col("raw1")).otherwise(
                        F.col("raw2")
                    )
                ).cast("long")
            ).over(wcut),
        )
    )
    picked = j.select(
        "cut", "_v", "n",
        F.when(F.col("cut") == 1, F.col("r1")).otherwise(F.col("r2")).alias("r"),
        (F.col("rk") - 1 - F.col("eqc")
         + F.when(F.col("cut") == 1, F.col("braw1"))
         .otherwise(F.col("braw2"))).alias("grk"),
    ).filter(
        (F.col("grk") == F.floor("r")) | (F.col("grk") == F.ceil("r"))
    )
    # percentile()'s interpolation: (ceil(r)-r)*v_floor + (r-floor(r))*v_ceil;
    # when floor==ceil the single row carries full weight 1.
    contrib = F.when(
        F.floor("r") == F.ceil("r"), F.col("_v")
    ).otherwise(
        F.when(F.col("grk") == F.floor("r"), (F.ceil("r") - F.col("r")) * F.col("_v"))
        .otherwise((F.col("r") - F.floor("r")) * F.col("_v"))
    )
    thr = picked.groupBy("cut").agg(F.sum(contrib).alias("thr"))
    out = stats.select("n").crossJoin(
        F.broadcast(
            thr.groupBy().pivot("cut", [1, 2]).agg(F.first("thr"))
        )
    ).select(F.col("1").alias("p_lo"), F.col("2").alias("p_hi"))
    # Materialize the 1-row threshold frame NOW, then release every cached
    # intermediate: three registry queries run this inside a session, and
    # un-released corpus-width `vals` partitions would accumulate across
    # calls (same unpersist discipline as dedup.connected_components). The
    # two scalars crossing the driver are the same class as the allowed
    # scalar collects in ml.py.
    try:
        row = out.collect()
    finally:
        for f in (eb, stats, vals):
            f.unpersist()
    return df.sparkSession.createDataFrame(row, out.schema)


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
        fan_out(df.select(value_col))
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
    frame — the scalar is never collected, so the plan is cluster-safe.

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
