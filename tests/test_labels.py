"""Label layer (A7/A8, PBSI composites) + folds."""

import random

import pytest
from pyspark.sql import functions as F

from practicum2_nof1_adhd_bd_spark.operators import folds, labels


def test_segment_zscore_std_zero_guard(spark):
    rows = [(1, 10.0), (1, 20.0), (2, 7.0), (2, 7.0)]
    df = spark.createDataFrame(rows, "segment_id int, v double")
    out = labels.segment_zscore(df, ["v"]).collect()
    seg1 = sorted(r["z_v"] for r in out if r["segment_id"] == 1)
    assert abs(seg1[0] + 0.707107) < 1e-6 and abs(seg1[1] - 0.707107) < 1e-6
    assert all(r["z_v"] == 0.0 for r in out if r["segment_id"] == 2)


def test_weighted_composite_clips_and_fills_nulls(spark):
    df = spark.createDataFrame([(10.0, None)], "a double, b double")
    out = labels.weighted_composite(df, {"a": 1.0, "b": 0.5}, "c").collect()[0]
    assert out["c"] == 3.0  # 10*1 + 0*0.5 clipped to +3


def test_quantile_3way_label_exact_percentiles(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "v double")
    out = labels.quantile_3way_label(df, "v")
    counts = {r["label_3cls"]: r["cnt"] for r in
              out.groupBy("label_3cls").agg(F.count("*").alias("cnt")).collect()}
    # P25 = 25.75, P75 = 75.25 over 1..100 -> 25 low, 25 high, 50 mid
    assert counts[-1] == 25 and counts[1] == 25 and counts[0] == 50


def test_quantile_3way_label_approx_agrees_with_exact(spark):
    """The 100-TB path (approx_percentile sketch) must agree with the exact
    path everywhere except rows within 1/accuracy rank of a cut point —
    checked on the real sf0.01 daily frame the headline query labels."""
    from practicum2_nof1_adhd_bd_spark.sources.readers import Catalog

    ev = Catalog(spark, "/root/testdata/sf0.01").events
    d = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.round(F.avg("value"), 6).alias("value_mean")
    )
    exact = labels.quantile_3way_label(d, "value_mean", exact=True)
    approx = labels.quantile_3way_label(d, "value_mean", exact=False)
    joined = exact.select("date", F.col("label_3cls").alias("l_exact")).join(
        approx.select("date", F.col("label_3cls").alias("l_approx")), "date"
    )
    n = joined.count()
    n_agree = joined.filter(F.col("l_exact") == F.col("l_approx")).count()
    assert n > 0
    assert n_agree / n >= 0.99  # sketch error can only flip rank-boundary rows


@pytest.mark.parametrize("n_parts", [1, 7])
def test_bounded_window_label_matches_refined(spark, n_parts):
    """The bounded path (a whole-frame window percentile) labels every row
    as the refined exact path does, on seeded frames with ties and nulls,
    whatever the input partitioning."""
    for seed in range(3):
        rng = random.Random(seed)
        vals = [
            None if rng.random() < 0.1 else rng.randint(0, 12) / 4
            for _ in range(150 + seed)
        ]
        df = spark.createDataFrame(list(enumerate(vals)), "id long, v double")
        df = df.repartition(n_parts)
        got, want = (
            {r["id"]: r["label_3cls"] for r in out.collect()}
            for out in (
                labels.quantile_3way_label(df, "v", bounded=True),
                labels.quantile_3way_label(df, "v"),
            )
        )
        assert got == want, seed
        assert set(got.values()) == {-1, 0, 1}


def test_threeway_threshold_label(spark):
    df = spark.createDataFrame([(-0.5,), (0.0,), (0.5,)], "v double")
    out = [r["label_3cls"] for r in
           labels.threeway_threshold_label(df, "v").orderBy("v").collect()]
    assert out == [-1, 0, 1]


def test_quality_multiplier_floor(spark):
    df = spark.createDataFrame(
        [(1, 1, 1, 1), (1, 1, 1, 0), (1, 0, 0, 0), (0, 0, 0, 0)],
        "m1 int, m2 int, m3 int, m4 int",
    )
    out = sorted(
        r["quality"]
        for r in labels.quality_multiplier(df, ["m1", "m2", "m3", "m4"]).collect()
    )
    # 0.8^4=0.4096 floored at 0.5; 0.8^3=0.512 stays above the floor
    assert out == [0.5, 0.512, 0.8, 1.0]


def test_month_folds_blocks(spark):
    rows = [(f"2024-{m:02d}-15",) for m in range(1, 13)]
    df = spark.createDataFrame(rows, "d string").select(F.col("d").cast("date").alias("d"))
    out = folds.month_folds(df, "d", train_months=4, val_months=2)
    got = {r["d"].month: (r["fold_id"], r["split"]) for r in out.collect()}
    assert got[1] == (0, "train") and got[4] == (0, "train")
    assert got[5] == (0, "val") and got[6] == (0, "val")
    assert got[7] == (1, "train") and got[12] == (1, "val")


def test_fold_class_check(spark):
    rows = [(0, "val", 1), (0, "val", 0), (1, "val", 1), (1, "val", 1)]
    df = spark.createDataFrame(rows, "fold_id int, split string, y int")
    out = {r["fold_id"]: r["usable"] for r in folds.fold_class_check(df, "y").collect()}
    assert out[0] == 1 and out[1] == 0


def test_refined_quantiles_bit_equal_builtin(spark):
    from practicum2_nof1_adhd_bd_spark.operators import labels

    cases = [
        [],
        [5.0],
        [1.0, 2.0],                  # interpolation between 2 values
        [3.0, 3.0, 3.0, 7.0],        # ties
        [float(i) for i in range(7)],
        [float(i % 13) * 0.5 for i in range(500)],  # many duplicates
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals] or [(None,)], "x double")
        if not vals:
            df = df.filter("x is not null")
        e = df.agg(
            F.percentile("x", 0.25).alias("p_lo"), F.percentile("x", 0.75).alias("p_hi")
        ).collect()[0]
        r = labels.refined_exact_quantile_thresholds(df, "x").collect()[0]
        # bit-for-bit: the refined path must reproduce the builtin
        # percentile()'s interpolation exactly, not approximately
        assert (e["p_lo"], e["p_hi"]) == (r["p_lo"], r["p_hi"]), vals


def test_refined_quantile_bracket_slice_bounded(spark):
    """100-TB contract: the only non-partial-agg stage of the refined
    exact quantile — the sketch-guided bracket slice that gets ranked —
    must stay O(n/accuracy), not O(n). Rank coverage is p +- 3/accuracy
    per cut plus the GK sketch's <= n/accuracy rank error and the
    neighbor widening, so <= 8n/accuracy rows per cut, 2 cuts."""
    from pyspark.sql import functions as F

    from practicum2_nof1_adhd_bd_spark.operators import labels

    n, accuracy = 200_000, 1_000
    df = spark.range(n).select(
        (
            ((F.col("id") * 1103515245 + 12345) % 1_000_003) / 1_000_003
            + F.col("id") * 1e-12
        ).alias("v")
    )
    stats = {}
    thr = labels.refined_exact_quantile_thresholds(
        df, "v", accuracy=accuracy, stats_out=stats
    ).collect()[0]
    assert thr["p_lo"] is not None and thr["p_hi"] is not None
    assert stats["n"] == n
    bound = 16 * n / accuracy + 16
    assert stats["bracket_rows"] <= bound, (stats["bracket_rows"], bound)
    # and the slice really is a tiny fraction of the input
    assert stats["bracket_rows"] < n * 0.05
