"""KMV bottom-k distinct sketch and the log-grid quantile histogram:
merge laws, exact-small paths, accuracy, PSI."""

from pyspark.sql import functions as F

from practicum2_nof1_adhd_bd_spark.operators import sketches


def test_kmv_exact_when_under_k(spark):
    """Fewer distinct values than k: the sketch saw everything and the
    estimate must be EXACTLY the distinct count."""
    df = spark.range(1000).select(
        F.lit("g").alias("g"), (F.col("id") % 37).alias("v")
    )
    row = sketches.kmv_estimate(df, ["g"], "v", k=64).collect()[0]
    assert row["sketch_size"] == 37
    assert row["kmv_estimate"] == 37.0


def test_kmv_partitioning_invariant(spark):
    """bottomk(bottomk(A) u bottomk(B)) = bottomk(A u B): the estimate
    must be byte-identical under any input partitioning — the property
    that makes the sketch mergeable across 1000 executors."""
    df = spark.range(20000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 5011).alias("v"),
    )
    a = {r["g"]: r["kmv_estimate"]
         for r in sketches.kmv_estimate(df.repartition(1), ["g"], "v").collect()}
    b = {r["g"]: r["kmv_estimate"]
         for r in sketches.kmv_estimate(df.repartition(13), ["g"], "v").collect()}
    assert a == b


def test_kmv_error_within_theory(spark):
    """KMV relative standard error is ~1/sqrt(k-2); assert the observed
    error stays inside 4 sigma on a 5011-distinct stream at k=64."""
    df = spark.range(20000).select(
        F.lit("g").alias("g"), (F.col("id") % 5011).alias("v")
    )
    row = sketches.kmv_estimate(df, ["g"], "v", k=64).collect()[0]
    assert row["sketch_size"] == 64
    rel = abs(row["kmv_estimate"] - 5011) / 5011
    assert rel < 4.0 / (62 ** 0.5), rel


def test_kmv_sketch_carries_k_smallest_hashes(spark):
    """The sketch array is the sorted k smallest distinct hashes — spot
    check against a driver-side recomputation on a tiny set."""
    import hashlib

    vals = [str(i) for i in range(200)]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v string")
    got = sketches.kmv_sketch(df, ["g"], "v", k=8).collect()[0]["kmin"]
    exp = sorted(
        int(hashlib.md5(v.encode()).hexdigest()[:15], 16) for v in vals
    )[:8]
    assert got == exp


def test_kmv_null_values_ignored_and_partition_invariant(spark):
    """Null values must not poison the sketch (r13 ADVICE high): a null
    hash entering the Arrow partial turns the int64 batch into float64,
    whose 53-bit mantissa collapses distinct 60-bit hashes — and WHICH
    hashes collapse depends on where the null lands, breaking
    partitioning-invariance. Nulls are dropped pre-Arrow, so the sketch
    over a null-bearing column equals the sketch over its non-null
    subset, exactly, under any partitioning."""
    df = spark.range(5000).select(
        F.lit("g").alias("g"),
        F.when(F.col("id") % 7 != 0, F.col("id") % 1201).alias("v"),
    )
    clean = df.filter(F.col("v").isNotNull())
    got1 = sketches.kmv_sketch(df.repartition(1), ["g"], "v", k=64)
    got13 = sketches.kmv_sketch(df.repartition(13), ["g"], "v", k=64)
    exp = sketches.kmv_sketch(clean, ["g"], "v", k=64)
    kmin = exp.collect()[0]["kmin"]
    assert got1.collect()[0]["kmin"] == kmin
    assert got13.collect()[0]["kmin"] == kmin
    # hashes stay int64-exact end to end (no float64 round-trip)
    assert all(isinstance(h, int) for h in kmin)


def test_qhist_log_merge_invariance_bit_exact(spark):
    """The log grid's merge law is EXACT: sketching two halves and
    merging yields identical (group, bucket_lo, n) rows as sketching
    the whole, under any split and partitioning."""
    df = spark.range(4000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        ((F.col("id") * 7919) % 100000).alias("v"),
    )
    whole = sketches.qhist_log_sketch(df, ["g"], "v")
    a = sketches.qhist_log_sketch(
        df.filter(F.col("id") % 3 == 0).repartition(5), ["g"], "v"
    )
    b = sketches.qhist_log_sketch(
        df.filter(F.col("id") % 3 != 0).repartition(2), ["g"], "v"
    )
    merged = sketches.qhist_merge(a, b)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_qhist_log_heavy_tail_p95_within_relative_width(spark):
    """On a heavy-tailed domain spanning nine decades (1..10^8) the
    auto-ranged log grid, with no range knob at all, locates p95 within
    its ~10% relative-width guarantee — a fixed [lo, hi) grid would
    clamp all of that tail into its top bucket."""
    # ids 0..999 -> v = 10^(id % 9): nine decades, no a-priori range
    df = spark.range(1000).select(
        F.lit("g").alias("g"),
        F.pow(F.lit(10.0), (F.col("id") % 9).cast("double")).cast("long").alias("v"),
    )
    exact_p95 = df.selectExpr("percentile(v, 0.95) AS q").collect()[0]["q"]
    assert exact_p95 >= 10**8  # the tail sits in the top decade

    logsk = sketches.qhist_log_sketch(df, ["g"], "v")
    log_p95 = sketches.qhist_log_quantiles(logsk, ["g"], [0.95]).collect()[
        0
    ]["q_est"]
    assert abs(log_p95 - exact_p95) / exact_p95 <= 0.11, log_p95


def test_qhist_log_quantiles_rejects_out_of_range_probs(spark):
    """p=0 satisfies no bucket and p>1 exceeds every rank — both would
    silently DROP their (group, p) output row; entry validation turns
    that into an error."""
    import pytest

    sk = sketches.qhist_log_sketch(
        spark.range(10).select(F.lit("g").alias("g"), F.col("id").alias("v")),
        ["g"], "v",
    )
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError, match="probs"):
            sketches.qhist_log_quantiles(sk, ["g"], [0.5, bad])


def test_qhist_log_exact_below_100_and_underflow_bucket(spark):
    """Values 0..99 are their own bucket (quantiles exact there);
    negatives land in the visible underflow bucket -1, never silently
    clamped into real mass."""
    df = spark.createDataFrame(
        [("g", -7), ("g", 0), ("g", 42), ("g", 99), ("g", 12345)],
        "g string, v long",
    )
    sk = {r["bucket_lo"]: r["n"] for r in
          sketches.qhist_log_sketch(df, ["g"], "v").collect()}
    assert sk == {-1: 1, 0: 1, 42: 1, 99: 1, 12000: 1}


def test_qhist_psi_identity_disjoint_and_smoothing(spark):
    """PSI contract: identical sketches score ~0; disjoint distributions
    score large (>0.25, the classic 'major shift' line); buckets present
    on one side only get finite smoothed mass (no inf/NaN)."""
    df_a = spark.range(1000).select(
        F.lit("g").alias("g"), (F.col("id") % 50).alias("v")
    )
    sk_a = sketches.qhist_log_sketch(df_a, ["g"], "v")
    same = sketches.qhist_psi(sk_a, sk_a, ["g"]).collect()[0]
    assert same["psi"] == 0.0
    # disjoint: values 1000..1049 vs 0..49
    df_b = spark.range(1000).select(
        F.lit("g").alias("g"), (F.col("id") % 50 + 1000).alias("v")
    )
    sk_b = sketches.qhist_log_sketch(df_b, ["g"], "v")
    dis = sketches.qhist_psi(sk_a, sk_b, ["g"]).collect()[0]
    assert dis["psi"] > 0.25
    # PSI is symmetric: (p-q)ln(p/q) is invariant under side swap
    rev = sketches.qhist_psi(sk_b, sk_a, ["g"]).collect()[0]
    assert rev["psi"] == dis["psi"]
    import math

    assert math.isfinite(dis["psi"])
    # union domain: 50 exact sub-100 buckets + the single 1000-1099
    # log band holding all of side b, fully disjoint
    assert dis["n_buckets"] == 51


def test_kmv_distinct_support_invariance(spark):
    """KMV of a multiset equals KMV of its distinct support: the sketch
    keeps the k smallest DISTINCT hashes, so duplicate rows cannot move
    it — the invariance that lets kmv_distinct_estimate build the
    sketch from the exact side's already-paid distinct frame (r17)."""
    dup = spark.range(12000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") % 311).alias("v"),
    )
    sup = dup.select("g", "v").distinct()
    a = sorted(map(tuple, sketches.kmv_sketch(dup, ["g"], "v", k=64).collect()))
    b = sorted(map(tuple, sketches.kmv_sketch(sup, ["g"], "v", k=64).collect()))
    assert a == b
