"""Mergeable cardinality sketches (brief §"Beyond": dedup / profiling at
100 TB needs distinct counts without shuffling every distinct value).

KMV (k-minimum-values, the bottom-k structure behind Apache DataSketches'
Theta sketch; Bar-Yossef et al. RANDOM'02, Beyer et al. SIGMOD'07): keep
the k smallest distinct hash values; the k-th smallest, normalized, pins
the density of the hashed stream, so n ~= (k-1) / m_k with relative error
~1/sqrt(k-2).

Why not Spark's built-in ``approx_count_distinct``: that is HLL++ with
engine-private registers — correct, but not replayable by the DuckDB
oracle. KMV over the md5-derived 60-bit hash (functions.hash64_md5) is
bit-exactly reproducible in SQL, so the ESTIMATE itself carries a
value-hash oracle, and the merge law is plain set algebra:

    bottomk(A ∪ B) = bottomk(bottomk(A) ∪ bottomk(B))

which is exactly how the two-level plan below distributes: the partial
sketch is taken INSIDE each input partition (an Arrow-batched
mapInPandas pass that keeps at most k distinct hashes per group in
memory and emits at most k rows per (group, partition)), so the only
corpus-wide shuffle carries <= k rows per (group, input-partition) —
never the distinct values themselves. A groupBy(collect_set) partial
could not honor that bound: collect_set's partial-aggregation buffer
packs ALL of a partition's distinct hashes into one array row BEFORE
any slice applies, which is both an O(distinct-per-partition) shuffle
and a single-giant-row executor-memory hazard at the 100-TB shape.
The result is partitioning-invariant, so the sf0.01 oracle attests the
same bytes a 1000-executor merge would produce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import hash64_md5
from ..sources.readers import literal_frame

HASH_SPACE = float(1 << 60)  # hash64_md5 range [0, 2^60)


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group bottom-k sketch: ``kmin`` (sorted array of the k smallest
    distinct hashes) via per-partition bottom-k partials + one k-bounded
    merge. Hashing stays JVM-side (hash64_md5); only (group, h) rows
    cross the Arrow boundary, and the partial's working set is capped at
    k rows per group plus one incoming batch."""
    part = df.select(
        *group_cols,
        hash64_md5(F.col(value_col).cast("string")).alias("h"),
    )
    # Null values hash to null. They MUST be dropped before the Arrow
    # boundary: a null in an int64 batch forces pandas to float64, whose
    # 53-bit mantissa cannot hold 60-bit hashes exactly, so distinct
    # hashes would collapse depending on which partition the null landed
    # in — breaking partitioning-invariance. Dropping them also restores
    # the set semantics of the old collect_set partial (ignores nulls).
    part = part.filter(F.col("h").isNotNull())
    gcols = list(group_cols)

    def _partial_bottomk(batches):
        import pandas as pd

        acc = None
        for pdf in batches:
            cur = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
            cur = cur.drop_duplicates()
            if gcols:
                cur = (
                    cur.sort_values("h", kind="mergesort")
                    .groupby(gcols, sort=False, dropna=False)
                    .head(k)
                )
            else:
                cur = cur.nsmallest(k, "h")
            acc = cur.reset_index(drop=True)
        if acc is not None and len(acc):
            yield acc

    partial = part.mapInPandas(_partial_bottomk, schema=part.schema)
    # merge shuffle: <= k rows per (group, input partition); the final
    # collect_set buffer is bounded by k * num_partitions per group.
    return partial.groupBy(*group_cols).agg(
        F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("kmin")
    )


def kmv_estimate(df: DataFrame, group_cols: list[str], value_col: str, k: int = 64) -> DataFrame:
    """Distinct-count estimate from the bottom-k sketch.

    If the sketch holds fewer than k hashes it saw EVERY distinct value
    and the count is exact; otherwise n ~= (k-1) * 2^60 / h_(k) — the
    unbiased KMV estimator on the un-normalized 60-bit hash."""
    sk = kmv_sketch(df, group_cols, value_col, k)
    est = F.when(
        F.size("kmin") < k, F.size("kmin").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(HASH_SPACE) / F.element_at("kmin", k)
    )
    return sk.select(
        *group_cols,
        F.size("kmin").alias("sketch_size"),
        F.round(est, 4).alias("kmv_estimate"),
    )


def qhist_merge(*sketches: DataFrame) -> DataFrame:
    """Merge quantile-histogram sketches (e.g. one per ingested
    snapshot): union + per-(group, bucket) sum — commutative and
    associative, so any merge tree over any partitioning yields the
    identical sketch."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c != "n"]
    return out.groupBy(*keys).agg(F.sum("n").alias("n"))


def _log_bucket_lo(v: "F.Column") -> "F.Column":
    """Lower edge of ``v``'s leading-two-decimal-digits band, the
    log-spaced bucket key: values 0..99 are their own bucket (exact),
    a d-digit value (d >= 3) buckets to first-two-digits * 10^(d-2)
    (relative width <= 1/10), negatives land in the visible underflow
    bucket -1. Built with STRING algebra only (substr + zero-padding,
    never floor(log10(v))): integer->string rendering is identical in
    Spark and DuckDB, while libm log/pow differ in the last ulp at
    bucket boundaries — a cross-engine hazard this grid must not
    introduce."""
    s = v.cast("string")
    d = F.length(s)
    band = F.concat(
        F.substring(s, 1, 2), F.repeat(F.lit("0"), (d - 2).cast("int"))
    ).cast("long")
    return (
        F.when(v < 0, F.lit(-1).cast("long"))
        .when(d <= 2, v.cast("long"))
        .otherwise(band)
    )


def _log_bucket_width(lo: "F.Column") -> "F.Column":
    """Width of the log bucket whose lower edge is ``lo``: 1 below 100
    (and for the underflow bucket), else 10^(digits(lo)-2) — again via
    string padding, not pow()."""
    return F.when(lo < 100, F.lit(1).cast("long")).otherwise(
        F.concat(
            F.lit("1"),
            F.repeat(F.lit("0"), (F.length(lo.cast("string")) - 2).cast("int")),
        ).cast("long")
    )


def qhist_log_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Auto-ranged log-spaced quantile-histogram sketch for UNBOUNDED
    non-negative integer domains (document sizes, byte lengths, sensor
    values): a fixed [lo, hi) grid would silently clamp outliers into
    its edge buckets. Buckets are leading-two-decimal-digits bands:
    exact below 100, relative width <= 1/10 above, growing with the
    data — no a-priori range at all.

    Why not KLL/t-digest: their compactions depend on insertion/merge
    ORDER, so a distributed build is not partitioning-invariant. Here
    bucket assignment is deterministic integer/string algebra
    (bit-identical in Spark and DuckDB — no libm log whose last ulp
    differs at boundaries), the sketch is pure (group, bucket_lo, n)
    counts, and the merge law is literal bucket addition
    (qhist_merge), so merged snapshot sketches equal the whole-corpus
    sketch EXACTLY. Size: <= 90 occupied buckets per decade per group
    — ~170 rows cover 1..10^9 — independent of row count. Quantile
    estimates carry <= ~10% relative error plus in-bucket
    interpolation.

    Values are truncated to long at entry (the domain is counts/sizes);
    nulls drop, negatives land in the visible underflow bucket -1."""
    v = F.col(value_col).cast("long")
    return (
        df.filter(v.isNotNull())
        .groupBy(*group_cols, _log_bucket_lo(v).alias("bucket_lo"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def qhist_log_quantiles(
    sketch: DataFrame,
    group_cols: list[str],
    probs: list[float],
) -> DataFrame:
    """Quantile estimates from a log-grid sketch: for each group and
    probability p, locate the bucket holding rank ceil(p * total)
    (type-1 rank on the bucketed mass) and interpolate linearly inside
    it, with each bucket's edge/width recovered from ``bucket_lo``
    itself — every step is window/scalar algebra a SQL oracle replays
    exactly. Output: (group..., p, q_est, total_n).

    ``probs`` must lie in (0, 1]: p=0 would satisfy no bucket and p>1
    would exceed every rank, so either would silently DROP its
    (group, p) row — validate at entry."""
    bad = [p for p in probs if not (0.0 < float(p) <= 1.0)]
    if bad:
        raise ValueError(f"probs must be in (0, 1], got {bad}")
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket_lo")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy(*group_cols)
    cum = (
        sketch.withColumn("_cum", F.sum("n").over(w))
        .withColumn("_total", F.sum("n").over(wg))
        .withColumn("_before", F.col("_cum") - F.col("n"))
    )
    probs_df = F.broadcast(
        literal_frame(sketch.sparkSession, "p double", [(p,) for p in probs])
    )
    rank = F.ceil(F.col("p") * F.col("_total"))
    lo = F.col("bucket_lo")
    est = lo + _log_bucket_width(lo) * (rank - F.col("_before")) / F.col("n")
    return (
        cum.crossJoin(probs_df)
        .filter((F.col("_cum") >= rank) & (F.col("_before") < rank))
        .select(
            *group_cols,
            "p",
            F.round(est, 6).alias("q_est"),
            F.col("_total").alias("total_n"),
        )
    )


def qhist_psi(
    sk_a: DataFrame,
    sk_b: DataFrame,
    group_cols: list[str],
    alpha: float = 0.5,
) -> DataFrame:
    """Population Stability Index between two stored qhist sketches
    (any per-group (bucket, n) count frame): the
    drift check a 100-TB corpus runs between snapshot artifacts WITHOUT
    rescanning either snapshot. PSI = sum_i (p_i - q_i) * ln(p_i / q_i)
    over the union bucket domain, with a symmetric add-``alpha``
    pseudo-count so buckets present on one side only contribute finite
    mass (the standard smoothing; alpha=0.5 is Jeffreys). Rule of
    thumb: PSI < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 major.

    Cross-engine discipline: each bucket's term is cast to
    DECIMAL(28,12) at the sum (double summation order differs between
    engines' partial aggregates), finishing scalar math in double;
    ln() runs on identical doubles in both engines. Output: (group...,
    n_buckets, psi) — one row per group, bounded by groups."""
    key = [c for c in sk_a.columns if c not in set(group_cols) | {"n"}]
    a = sk_a.withColumnRenamed("n", "n_a")
    b = sk_b.withColumnRenamed("n", "n_b")
    j = a.join(b, [*group_cols, *key], "full").fillna(0, ["n_a", "n_b"])
    return count_psi(j, group_cols, alpha)


def count_psi(
    counts: DataFrame, group_cols: list[str], alpha: float = 0.5
) -> DataFrame:
    """The PSI step of ``qhist_psi`` over one frame carrying both sides'
    counts of each bucket (``n_a``, ``n_b``, zero where a side has none);
    on one partition its windows and aggregate add no exchange."""
    wg = Window.partitionBy(*group_cols)
    j = (
        counts.withColumn("_ta", F.sum("n_a").over(wg))
        .withColumn("_tb", F.sum("n_b").over(wg))
        .withColumn("_nb", F.count(F.lit(1)).over(wg))
    )
    p = (F.col("n_a") + F.lit(alpha)) / (
        F.col("_ta") + F.lit(alpha) * F.col("_nb")
    )
    q = (F.col("n_b") + F.lit(alpha)) / (
        F.col("_tb") + F.lit(alpha) * F.col("_nb")
    )
    term = ((p - q) * F.log(p / q)).cast("decimal(28,12)")
    return (
        j.groupBy(*group_cols)
        .agg(
            F.max("_nb").alias("n_buckets"),
            F.round(F.sum(term).cast("double"), 6).alias("psi"),
        )
    )
