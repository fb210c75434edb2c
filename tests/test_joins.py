"""Join operators (J1-J9) and set ops on hand-built daily frames."""

import datetime as dt

from pyspark.sql import functions as F

from practicum2_nof1_adhd_bd_spark.operators import joins


def _daily(spark, rows):
    return spark.createDataFrame(rows, "date string, v double").withColumn(
        "date", F.col("date").cast("date")
    )


def test_date_spine_and_left_join(spark):
    a = _daily(spark, [("2024-01-01", 1.0), ("2024-01-03", 3.0)])
    b = _daily(spark, [("2024-01-02", 2.0)]).withColumnRenamed("v", "w")
    out = joins.spine_merge([a, b]).orderBy("date").collect()
    assert len(out) == 3
    assert [r["v"] for r in out] == [1.0, None, 3.0]
    assert [r["w"] for r in out] == [None, 2.0, None]


def test_spine_merge_equals_spine_left_joins(spark):
    """The merged spine holds the rows of left-joining every daily onto
    the distinct union of their dates: a null-date row is a spine row of
    nulls (it matches nothing), a date in one daily only gets nulls for
    the other, and a null value stays null."""
    a = _daily(
        spark, [("2024-01-01", 1.0), ("2024-01-03", None), (None, 7.0)]
    )
    b = spark.createDataFrame(
        [("2024-01-03", 30.0, "x"), ("2024-01-04", 40.0, None), (None, 8.0, "z")],
        "date string, w double, tag string",
    ).withColumn("date", F.col("date").cast("date"))
    spine = a.select("date").union(b.select("date")).distinct()
    want = spine.join(a, "date", "left").join(b, "date", "left")
    got = joins.spine_merge([a, b])
    assert got.columns == want.columns == ["date", "v", "w", "tag"]
    assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)
    assert (None, None, None, None) in [tuple(r) for r in got.collect()]


def test_coalescing_merge_prefers_first_vendor(spark):
    apple = _daily(spark, [("2024-01-01", 10.0), ("2024-01-02", 20.0)])
    zepp = _daily(spark, [("2024-01-02", 99.0), ("2024-01-03", 30.0)])
    out = {r["date"]: r["v"] for r in joins.coalescing_merge(apple, zepp).collect()}
    assert out[dt.date(2024, 1, 2)] == 20.0  # apple wins
    assert out[dt.date(2024, 1, 3)] == 30.0  # zepp fills the gap


def test_union_fusion_mean_vs_sum(spark):
    a = _daily(spark, [("2024-01-01", 10.0)])
    b = _daily(spark, [("2024-01-01", 30.0)])
    mean = joins.union_fusion_mean([a, b], "date", ["v"]).collect()[0]["v"]
    total = joins.union_fusion_sum([a, b], "date", ["v"]).collect()[0]["v"]
    assert mean == 20.0 and total == 40.0


def test_nway_outer_merge_preserves_all_dates(spark):
    a = _daily(spark, [("2024-01-01", 1.0)]).withColumnRenamed("v", "va")
    b = _daily(spark, [("2024-01-02", 2.0)]).withColumnRenamed("v", "vb")
    c = _daily(spark, [("2024-01-03", 3.0)]).withColumnRenamed("v", "vc")
    out = joins.nway_outer_merge([a, b, c])
    assert out.count() == 3
    row = {r["date"]: r for r in out.collect()}[dt.date(2024, 1, 2)]
    assert row["va"] is None and row["vb"] == 2.0 and row["vc"] is None


def test_boundary_range_join_sides(spark):
    df = _daily(
        spark,
        [("2024-01-0%d" % d, float(d)) for d in range(1, 10)],
    )
    bounds = spark.createDataFrame([("2024-01-05",)], "b string").select(
        F.col("b").cast("date").alias("boundary")
    )
    out = joins.boundary_range_join(df, bounds, "date", "boundary", 3)
    sides = {(r["date"], r["side"]) for r in out.collect()}
    assert (dt.date(2024, 1, 2), "before") in sides
    assert (dt.date(2024, 1, 4), "before") in sides
    assert (dt.date(2024, 1, 5), "after") in sides
    assert (dt.date(2024, 1, 7), "after") in sides
    assert not any(r[0] == dt.date(2024, 1, 1) for r in sides)  # < b-3
    assert not any(r[0] == dt.date(2024, 1, 8) for r in sides)  # >= b+3


def test_point_in_interval_join(spark):
    df = _daily(spark, [("2024-01-05", 1.0), ("2024-01-15", 2.0), ("2024-02-20", 3.0)])
    iv = spark.createDataFrame(
        [("2024-01-01", "2024-01-10", "s1"), ("2024-01-11", "2024-01-31", "s2")],
        "start_date string, end_date string, seg string",
    ).select(
        F.col("start_date").cast("date"),
        F.col("end_date").cast("date"),
        "seg",
    )
    out = {r["date"]: r["seg"] for r in joins.point_in_interval_join(df, iv, "date").collect()}
    assert out[dt.date(2024, 1, 5)] == "s1"
    assert out[dt.date(2024, 1, 15)] == "s2"
    assert out[dt.date(2024, 2, 20)] is None  # left join keeps unmatched


def test_missing_days(spark):
    df = _daily(spark, [("2024-01-01", 1.0), ("2024-01-04", 4.0)])
    missing = sorted(r["date"] for r in joins.missing_days(df, "date").collect())
    assert missing == [dt.date(2024, 1, 2), dt.date(2024, 1, 3)]


def test_interval_overlap_join_exactly_once_and_bounds(spark):
    from practicum2_nof1_adhd_bd_spark.operators import joins

    left = spark.createDataFrame(
        [("u", 1, 0, 100), ("u", 2, 200, 210), ("v", 3, 0, 50)],
        "k string, lid long, ls long, le long",
    )
    right = spark.createDataFrame(
        [
            ("u", 10, 90, 250),   # overlaps lid=1 [90,100) and lid=2 fully
            ("u", 11, 100, 150),  # TOUCHES lid=1 (half-open: no match)
            ("v", 12, 40, 45),    # inside lid=3
            ("v", 13, 7, 7),      # empty: dropped
        ],
        "k string, rid long, rs long, re long",
    )
    out = joins.interval_overlap_join(
        left, right, ["k"], ("ls", "le"), ("rs", "re"), bucket_size=10
    )
    rows = {(r["lid"], r["rid"]): r for r in out.collect()}
    # exactly-once despite lid=2/rid=10 sharing multiple 10-wide buckets
    assert len(rows) == len(out.collect())
    assert set(rows) == {(1, 10), (2, 10), (3, 12)}
    assert (rows[(1, 10)]["overlap_start"], rows[(1, 10)]["overlap_end"],
            rows[(1, 10)]["overlap_len"]) == (90, 100, 10)
    assert rows[(2, 10)]["overlap_len"] == 10
    assert rows[(3, 12)]["overlap_len"] == 5


def test_interval_overlap_join_matches_naive_theta_join(spark):
    from practicum2_nof1_adhd_bd_spark.operators import joins

    left = spark.createDataFrame(
        [("k%d" % (i % 3), i, (7 * i) % 50, (7 * i) % 50 + 1 + (i % 13))
         for i in range(40)],
        "k string, lid long, ls long, le long",
    )
    right = spark.createDataFrame(
        [("k%d" % (j % 3), j, (11 * j) % 60, (11 * j) % 60 + 1 + (j % 9))
         for j in range(40)],
        "k string, rid long, rs long, re long",
    )
    fast = joins.interval_overlap_join(
        left, right, ["k"], ("ls", "le"), ("rs", "re"), bucket_size=8
    )
    naive = (
        left.join(right, "k")
        .filter((F.col("ls") < F.col("re")) & (F.col("rs") < F.col("le")))
        .select("lid", "rid")
    )
    got = sorted((r["lid"], r["rid"]) for r in fast.collect())
    want = sorted((r["lid"], r["rid"]) for r in naive.collect())
    assert got == want and len(got) == len(set(got))
