"""Drift detection (KS, ADWIN) and per-segment imputation."""

from pyspark.sql import functions as F

from practicum2_nof1_adhd_bd_spark.operators import drift, impute


def test_ks_identical_samples_zero(spark):
    rows = [(float(v), g) for v in range(10) for g in (0, 1)]
    df = spark.createDataFrame(rows, "v double, g int")
    out = drift.ks_statistic(df, "v", "g").collect()[0]
    assert out["ks_stat"] == 0.0


def test_ks_disjoint_samples_one(spark):
    rows = [(float(v), 1) for v in range(10)] + [(float(v + 100), 0) for v in range(10)]
    df = spark.createDataFrame(rows, "v double, g int")
    out = drift.ks_statistic(df, "v", "g").collect()[0]
    assert out["ks_stat"] == 1.0


def test_ks_known_half_shift(spark):
    # A = {1..10}, B = {6..15}: max CDF gap = 0.5 at value 5/10 boundary
    rows = [(float(v), 1) for v in range(1, 11)] + [(float(v), 0) for v in range(6, 16)]
    df = spark.createDataFrame(rows, "v double, g int")
    out = drift.ks_statistic(df, "v", "g").collect()[0]
    assert out["ks_stat"] == 0.5


def test_adwin_detects_mean_shift(spark):
    vals = [10.0 + (i % 3) * 0.1 for i in range(60)] + [
        50.0 + (i % 3) * 0.1 for i in range(60)
    ]
    rows = [("g", f"{i:04d}", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "grp string, idx string, v double")
    out = drift.adwin_changes(df, "idx", "v", ["grp"], delta=0.002).collect()
    assert len(out) >= 1
    first = min(int(r["change_index"]) for r in out)
    assert 60 <= first <= 90  # detected shortly after the shift at i=60


def test_impute_per_segment_fills_all_nulls(spark):
    rows = []
    # segment 1: y ~ 2x, one missing y; big enough for iterative path
    for i in range(10):
        rows.append((1, float(i), float(2 * i) if i != 5 else None))
    # segment 2: too small -> global median fallback
    rows.append((2, 1.0, None))
    df = spark.createDataFrame(rows, "segment_id int, x double, y double")
    out = impute.impute_per_segment(df, ["x", "y"], min_rows=5)
    rows_out = out.collect()
    assert all(r["y"] is not None for r in rows_out)
    seg1 = {r["x"]: r["y"] for r in rows_out if r["segment_id"] == 1}
    assert abs(seg1[5.0] - 10.0) < 0.5  # recovered y ~= 2x
    seg2 = [r["y"] for r in rows_out if r["segment_id"] == 2][0]
    assert seg2 is not None  # global median fallback applied


def test_impute_deterministic_across_runs(spark):
    rows = [(1, float(i), float(3 * i + 1) if i % 4 else None) for i in range(12)]
    df = spark.createDataFrame(rows, "segment_id int, x double, y double")
    a = sorted(map(str, impute.impute_per_segment(df, ["x", "y"]).collect()))
    b = sorted(map(str, impute.impute_per_segment(df, ["x", "y"]).collect()))
    assert a == b


def test_temporal_instability_reference_semantics(spark):
    """Pins the ref's assignment/scoring rules
    (src/utils/temporal_instability.py:30-185): overlapping segments ->
    LAST wins; unmatched dates drop; sample variance of segment means;
    all-null feature scores 0.0; max-normalization to [0, 1]."""
    import datetime as dt

    from practicum2_nof1_adhd_bd_spark.operators import drift

    d = dt.date
    feats = spark.createDataFrame(
        [
            # seg 0: days 1-2 ; seg 1: days 3-4 (day 3 overlaps seg 0 ->
            # seg 1 wins) ; day 9 matches nothing -> dropped
            (d(2024, 1, 1), 1.0, None),
            (d(2024, 1, 2), 3.0, None),
            (d(2024, 1, 3), 10.0, None),
            (d(2024, 1, 4), 20.0, None),
            (d(2024, 1, 9), 999.0, None),
        ],
        "date date, f1 double, f2 double",
    )
    segs = spark.createDataFrame(
        [
            (0, d(2024, 1, 1), d(2024, 1, 3)),
            (1, d(2024, 1, 3), d(2024, 1, 4)),
        ],
        "seg_id int, date_start date, date_end date",
    )
    out = {
        r["feature"]: r
        for r in drift.temporal_instability(
            feats, segs, ["f1", "f2"], "date"
        ).collect()
    }
    # seg 0 mean = (1+3)/2 = 2 ; seg 1 mean = (10+20)/2 = 15 (day 3 in
    # seg 1, day 9 dropped) ; var_samp([2, 15]) = 84.5
    assert out["f1"]["instability"] == 84.5
    assert out["f1"]["instability_norm"] == 1.0
    # all-null feature -> 0.0 raw; normalized leaves 0.0
    assert out["f2"]["instability"] == 0.0
    assert out["f2"]["instability_norm"] == 0.0

    # single segment -> var_samp undefined -> 0.0 everywhere; max == 0 so
    # normalization must NOT divide (ref guards max > 0)
    one_seg = drift.temporal_instability(
        feats, segs.filter("seg_id = 0"), ["f1"], "date"
    ).collect()
    assert one_seg[0]["instability"] == 0.0
    assert one_seg[0]["instability_norm"] == 0.0


def test_temporal_instability_missing_feature_scores_zero(spark):
    """A feature name absent from the frame scores 0.0 (ref
    temporal_instability.py:112 guards `feat not in df.columns` the same
    way as an all-null column) instead of raising from the stack; an
    ALL-missing request yields all-zero rows."""
    import datetime as dt

    from practicum2_nof1_adhd_bd_spark.operators import drift

    d = dt.date
    feats = spark.createDataFrame(
        [
            (d(2024, 1, 1), 1.0),
            (d(2024, 1, 2), 3.0),
            (d(2024, 1, 3), 10.0),
            (d(2024, 1, 4), 20.0),
        ],
        "date date, f1 double",
    )
    segs = spark.createDataFrame(
        [
            (0, d(2024, 1, 1), d(2024, 1, 2)),
            (1, d(2024, 1, 3), d(2024, 1, 4)),
        ],
        "seg_id int, date_start date, date_end date",
    )
    out = {
        r["feature"]: r
        for r in drift.temporal_instability(
            feats, segs, ["f1", "nope"], "date"
        ).collect()
    }
    assert out["f1"]["instability"] == 84.5
    assert out["nope"]["instability"] == 0.0
    assert out["nope"]["instability_norm"] == 0.0

    all_missing = drift.temporal_instability(
        feats, segs, ["ghost_a", "ghost_b"], "date"
    ).collect()
    assert sorted(r["feature"] for r in all_missing) == ["ghost_a", "ghost_b"]
    assert all(r["instability"] == 0.0 for r in all_missing)


def test_impute_one_udf_pass_and_post_mice_median(spark):
    """The grouped UDF runs once: the global-median fallback is a window
    over its output, not a second pass. A segment under ``min_rows``
    gets the median of the imputed values (MICE-sampled cells included)."""
    import numpy as np

    seg1 = [(float(i), float(2 * i + 1) if i not in (3, 6) else None) for i in range(8)]
    rows = [(1, i, x, y) for i, (x, y) in enumerate(seg1)]
    rows += [(2, 0, 4.0, None), (2, 1, 5.0, 90.0)]
    # one partition keeps each segment's rows in order, as MICE reads them
    df = spark.createDataFrame(rows, "segment_id int, idx int, x double, y double")
    out = impute.impute_per_segment(df.coalesce(1), ["x", "y"], min_rows=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1, plan

    mat = impute._mice_impute(np.array(seg1, dtype="float64"))
    want = float(np.median(np.append(mat[:, 1], 90.0)))
    got = {(r["segment_id"], r["idx"]): r["y"] for r in out.collect()}
    assert got[(2, 0)] == want
    assert [got[(1, i)] for i in range(8)] == list(mat[:, 1])
