"""Drift detection — SURVEY.md §2.5 W12 (ADWIN) and the KS halves test
(ref ml7_analysis.py:323-424).

KS is pure window algebra (empirical-CDF max gap) — fully distributed and
oracle-checkable. ADWIN is inherently sequential, so it runs as a grouped
Pandas UDF with one group per (entity, metric) stream — the reference
processes one participant's stream, which maps to one group here; at scale
thousands of participant streams process in parallel.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def ks_statistic(
    df: DataFrame,
    value_col: str,
    group_col: str,
    partition_cols: list[str] | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per partition.

    ``group_col`` must be boolean-ish: true = sample A, false = sample B.
    KS = max over observed values of |F_A(x) - F_B(x)| with CDFs evaluated
    via cumulative counts over the value-ordered window. One shuffle.
    """
    parts = partition_cols or []
    is_a = F.col(group_col).cast("int")
    tot = Window.partitionBy(*parts)
    cum = (
        Window.partitionBy(*parts)
        .orderBy(value_col)
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    n_a = F.sum(is_a).over(tot)
    n_b = F.sum(1 - is_a).over(tot)
    cdf_a = F.sum(is_a).over(cum) / n_a
    cdf_b = F.sum(1 - is_a).over(cum) / n_b
    gap = F.abs(cdf_a - cdf_b)
    return (
        df.select(*parts, gap.alias("_gap"))
        .groupBy(*parts)
        .agg(F.round(F.max("_gap"), round_dp).alias("ks_stat"))
    )


class _Adwin:
    """Minimal ADWIN (ADaptive WINdowing) change detector.

    Re-implementation of the published algorithm (Bifet & Gavalda 2007):
    keep a window of recent values; on each insert, test every split of the
    window — if the two halves' means differ more than the Hoeffding-style
    bound eps(delta), drop the older half and report a change. O(W) per
    insert variant (exact window, no exponential histogram) — faithful for
    daily-grain streams; the reference uses river's ADWIN with delta=0.002
    (ref ml7_analysis.py:350-364).
    """

    def __init__(self, delta: float = 0.002, min_window: int = 10):
        self.delta = delta
        self.min_window = min_window
        self.window: list[float] = []

    def update(self, x: float) -> bool:
        import math

        self.window.append(float(x))
        n = len(self.window)
        if n < 2 * self.min_window:
            return False
        changed = False
        # the window only changes at the break, so both are per-insert
        var = _variance(self.window)
        dd = math.log(2.0 * math.log(n) / self.delta)
        # test splits from oldest side
        for cut in range(self.min_window, n - self.min_window + 1):
            w0, w1 = self.window[:cut], self.window[cut:]
            n0, n1 = len(w0), len(w1)
            m0 = sum(w0) / n0
            m1 = sum(w1) / n1
            m_harm = 1.0 / (1.0 / n0 + 1.0 / n1)
            eps = math.sqrt(2.0 * m_harm * var * dd) + (2.0 / 3.0) * dd * m_harm
            # normalized bound per Bifet-Gavalda eq. (3)
            eps = eps / m_harm
            if abs(m0 - m1) > eps:
                self.window = w1
                changed = True
                break
        return changed


def _variance(xs: list[float]) -> float:
    n = len(xs)
    if n < 2:
        return 0.0
    m = sum(xs) / n
    return sum((x - m) ** 2 for x in xs) / n


def adwin_changes(
    df: DataFrame,
    order_col: str,
    value_col: str,
    group_cols: list[str] | None = None,
    delta: float = 0.002,
) -> DataFrame:
    """W12 — ADWIN change points per ordered group stream.

    Grouped applyInPandas: each group is sorted and scanned sequentially
    (the algorithm is order-dependent by definition). Returns one row per
    detected change with the order key at detection time.
    """
    groups = group_cols or []
    gexpr = [F.col(g) for g in groups] if groups else [F.lit(0).alias("_g")]
    gnames = groups or ["_g"]
    src = df.select(*gexpr, F.col(order_col), F.col(value_col))
    schema_parts = [f"`{g}` string" for g in gnames] + [
        f"`{order_col}` string",
        "change_index bigint",
    ]
    out_schema = StructType.fromDDL(", ".join(schema_parts))

    def detect(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        det = _Adwin(delta=delta)
        rows = []
        for i, x in enumerate(pdf[value_col]):
            if pd.isna(x):
                continue
            if det.update(x):
                rows.append(
                    {
                        **{g: str(pdf[g].iloc[0]) for g in gnames},
                        order_col: str(pdf[order_col].iloc[i]),
                        "change_index": i,
                    }
                )
        return pd.DataFrame(rows, columns=gnames + [order_col, "change_index"])

    return src.groupBy(*gnames).applyInPandas(detect, out_schema)


def temporal_instability(
    features_df: DataFrame,
    segments: DataFrame,
    feature_cols: list[str],
    date_col: str = "date",
    seg_id_col: str = "seg_id",
    start_col: str = "date_start",
    end_col: str = "date_end",
    normalize: bool = True,
    round_dp: int = 6,
) -> DataFrame:
    """Temporal-instability feature scores (ref
    src/utils/temporal_instability.py:30-185): assign each row to a
    behavioral segment by date containment, compute each feature's mean
    per segment, score the feature by the SAMPLE variance of its segment
    means, and (optionally) normalize scores to [0, 1] by the max. High
    instability = the feature's level moves between behavioral regimes —
    the reference uses it to regularize temporal prediction.

    Reference semantics preserved exactly: the ref assigns segment ids in
    a loop over segments, so on OVERLAPPING segments the LAST (highest
    id) wins — here max(seg_id) over containing intervals; rows matching
    no segment are dropped; a feature missing everywhere (or with <2
    segment means) scores 0.0; pandas' nan-skipping mean/var map to
    Spark's null-skipping avg/var_samp; normalization divides by the max
    only when it is positive.

    Spark-first shape: the features frame is DATE-grain (bounded rows at
    any corpus size), so it runs on one partition with the O(100)
    segments unioned in as rows. A whole-frame window hands each date the
    segment list to filter; one aggregate per segment and one global
    aggregate score every feature. Windows and aggregates on one
    partition need no exchange; a join would re-shuffle both sides.
    """
    # Features absent from the frame score 0.0, same as all-null ones:
    # the ref guards with `if feat not in df.columns or ...isna().all()`
    # (temporal_instability.py:112), so a missing column is a null column.
    present = set(features_df.columns)
    fcols = [f"_f{i}" for i in range(len(feature_cols))]
    dates = features_df.select(
        F.col(date_col).alias("_d"),
        *[
            (F.col(c) if c in present else F.lit(None)).cast("double").alias(f)
            for c, f in zip(feature_cols, fcols)
        ],
    )
    segs = segments.selectExpr(
        f"struct(`{seg_id_col}` AS id, `{start_col}` AS lo, `{end_col}` AS hi) AS _s"
    )
    d = F.col("_d")
    # the last (highest-id) containing segment wins; none -> null, dropped
    seg_of_date = F.array_max(
        F.transform(
            F.filter(
                F.collect_list("_s").over(Window.partitionBy()),
                lambda s: (s["lo"] <= d) & (d <= s["hi"]),
            ),
            lambda s: s["id"],
        )
    )
    seg_means = (
        dates.unionByName(segs, allowMissingColumns=True)
        .coalesce(1)
        .withColumn("_seg", seg_of_date)
        .filter(d.isNotNull() & F.col("_seg").isNotNull())
        .groupBy("_seg")
        .agg(*[F.avg(f).alias(f) for f in fcols])
    )
    inst = seg_means.agg(
        *[F.coalesce(F.var_samp(f), F.lit(0.0)).alias(f) for f in fcols]
    ).select(
        F.stack(
            F.lit(len(fcols)),
            *[x for c, f in zip(feature_cols, fcols) for x in (F.lit(c), F.col(f))],
        ).alias("feature", "instability")
    )
    out_cols = [
        F.col("feature"),
        F.round("instability", round_dp).alias("instability"),
    ]
    if normalize:
        mx = F.max("instability").over(Window.partitionBy())
        norm = F.when(mx > 0, F.col("instability") / mx).otherwise(
            F.col("instability")
        )
        out_cols.append(F.round(norm, round_dp).alias("instability_norm"))
    return inst.select(*out_cols).orderBy(F.desc("instability"), "feature")
