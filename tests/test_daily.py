"""Daily aggregation operators (A1-A6, A10-A11) on hand-built frames."""

import datetime as dt

from pyspark.sql import functions as F

from practicum2_nof1_adhd_bd_spark.operators import daily

TS = "2024-01-0{d} 0{h}:00:00"


def _events(spark):
    rows = [
        # day 1: values 60, 80, 100 -> mean 80, std_samp 20
        ("2024-01-01 01:00:00", 60.0, "a"),
        ("2024-01-01 02:00:00", 80.0, "a"),
        ("2024-01-01 03:00:00", 100.0, "b"),
        # day 2: single sample (std null), plus outliers to filter
        ("2024-01-02 01:00:00", 70.0, "b"),
        ("2024-01-02 02:00:00", 10.0, "a"),   # below 30
        ("2024-01-02 03:00:00", 500.0, "a"),  # above 220
    ]
    return spark.createDataFrame(rows, "ts string, value double, tag string").withColumn(
        "ts", F.to_timestamp("ts")
    )


def test_range_filter_and_daily_stats(spark):
    ev = daily.range_filter(_events(spark), "value", 30, 220)
    out = {r["date"]: r for r in daily.daily_stats(ev).collect()}
    d1 = out[dt.date(2024, 1, 1)]
    assert d1["n_events"] == 3
    assert d1["value_mean"] == 80.0
    assert d1["value_min"] == 60.0 and d1["value_max"] == 100.0
    assert d1["value_std"] == 20.0
    d2 = out[dt.date(2024, 1, 2)]
    assert d2["n_events"] == 1 and d2["value_std"] is None


def test_population_vs_sample_std(spark):
    """The reference mixes np.std (pop) and pandas .std (sample) — A1 note."""
    ev = _events(spark).filter(F.to_date("ts") == "2024-01-01")
    pop = daily.daily_stats(ev, sample_std=False).collect()[0]["value_std"]
    samp = daily.daily_stats(ev, sample_std=True).collect()[0]["value_std"]
    assert samp == 20.0
    assert abs(pop - 16.32993161855452) < 1e-6


def test_daily_median_even_count_interpolates(spark):
    rows = [("2024-01-01 0%d:00:00" % h, float(v)) for h, v in
            [(1, 10), (2, 20), (3, 40), (4, 80)]]
    ev = spark.createDataFrame(rows, "ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = daily.daily_median_stats(ev).collect()[0]
    assert out["value_median"] == 30.0  # (20+40)/2


def test_daily_pivot_sum_fills_zero(spark):
    ev = _events(spark).withColumn(
        "cat", F.when(F.col("value") < 75, "low").otherwise("high")
    )
    out = daily.daily_pivot_sum(ev, "ts", "cat", "value", ["low", "high", "absent"])
    row = {r["date"]: r for r in out.collect()}[dt.date(2024, 1, 1)]
    assert row["low"] == 60.0 and row["high"] == 180.0 and row["absent"] == 0.0


def test_collected_set_sorted_join(spark):
    out = daily.daily_collected_set(_events(spark), "ts", "tag", "value").collect()
    by_date = {r["date"]: r for r in out}
    assert by_date[dt.date(2024, 1, 1)]["tags"] == "a, b"
    assert by_date[dt.date(2024, 1, 1)]["any_flag"] == 1


def test_last_by_order_uses_timestamp_not_input_order(spark):
    rows = [
        ("2024-01-01 05:00:00", 99.0, "k"),  # latest, listed first
        ("2024-01-01 01:00:00", 11.0, "k"),
    ]
    ev = spark.createDataFrame(rows, "ts string, value double, k string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = daily.last_by_order(ev, "k", "ts", "value").collect()[0]
    assert out["value_last"] == 99.0 and out["value_first"] == 11.0


def test_deterministic_mode_tie_breaks_alphabetically(spark):
    rows = [("x", "b"), ("x", "b"), ("x", "a"), ("x", "a"), ("x", "c")]
    df = spark.createDataFrame(rows, "k string, cat string")
    out = daily.deterministic_mode(df, "k", "cat").collect()[0]
    assert out["modal_category"] == "a" and out["modal_count"] == 2


def test_missingness_profile(spark):
    df = spark.createDataFrame(
        [(1, None), (2, 5.0), (None, None)], "a int, b double"
    )
    out = {r["column_name"]: r for r in daily.missingness_profile(df, ["a", "b"]).collect()}
    assert out["a"]["n_null"] == 1
    assert out["b"]["n_null"] == 2
    assert abs(out["b"]["pct_null"] - 66.666667) < 1e-5


def test_daily_mean_double_vs_decimal_exact_canary(spark, sf_dir):
    """Regression canary for the r06 decimal->double revert (_DAILY_MEAN):
    Spark's double avg() is combine-order-nondeterministic, so a 6dp round
    could in principle flip at a boundary. Assert the double path agrees
    with the order-independent decimal(28,12) exact sum at 6dp over the
    real events table — if a boundary flip ever appears, this catches it
    before the attestation window does (the chain feeds ~15 attested
    queries)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    both = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.round(F.avg("value"), 6).alias("dbl"),
        F.round(
            (
                F.sum(F.col("value").cast("decimal(28,12)"))
                / F.count("value")
            ).cast("double"),
            6,
        ).alias("exact"),
    )
    bad = both.filter(F.col("dbl") != F.col("exact")).collect()
    assert bad == [], f"6dp boundary flip vs decimal-exact mean: {bad[:5]}"


def test_day_frame_matches_silver(spark, tmp_path):
    """day_frame's per-type columns are silver's, and a type absent on a
    day reads a null count, mean and sum there; the all-type totals count
    every event and user."""
    from practicum2_nof1_adhd_bd_spark import pipeline

    rows = [
        ("2024-01-01 01:00:00", 60.0, "click", 1),
        ("2024-01-01 02:00:00", 80.0, "click", 2),
        ("2024-01-01 03:00:00", 10.5, "error", 1),
        ("2024-01-02 01:00:00", 70.0, "click", 3),
        ("2024-01-02 05:00:00", 2.25, "view", 3),
    ]
    ev = spark.createDataFrame(
        rows, "ts string, value double, event_type string, user_id int"
    ).withColumn("ts", F.to_timestamp("ts"))
    types = pipeline.EVENT_TYPES
    got = {
        r["date"]: r
        for r in daily.day_frame(ev, F.to_date("ts"), [], types).collect()
    }
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    assert (got[d1]["click_n"], got[d1]["click_mean"], got[d1]["click_sum"]) == (2, 70.0, 140.0)
    assert (got[d2]["error_n"], got[d2]["error_mean"], got[d2]["error_sum"]) == (None, None, None)
    assert (got[d1]["n_events"], got[d1]["n_users"], got[d2]["value_sum"]) == (3, 2, 72.25)

    bronze = str(tmp_path / "bronze")
    ev.select("event_type", "value", F.to_date("ts").alias("event_date")).write.partitionBy(
        "event_date"
    ).parquet(bronze)
    silver = spark.read.parquet(pipeline.build_silver(spark, bronze, str(tmp_path)))
    cols = silver.columns
    assert {r["date"]: tuple(r) for r in silver.collect()} == {
        d: tuple(r[c] for c in cols) for d, r in got.items()
    }
