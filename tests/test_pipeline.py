"""Medallion lifecycle tests — layer materialization + re-entrancy."""

import os

import pytest
from pyspark.sql import functions as F

from practicum2_nof1_adhd_bd_spark import pipeline
from practicum2_nof1_adhd_bd_spark.operators import joins
from practicum2_nof1_adhd_bd_spark.sources.readers import Catalog


def test_medallion_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "lake")
    paths = pipeline.run_medallion(spark, sf_dir, out)
    assert set(paths) == {"bronze", "silver", "unified", "labeled", "segments"}
    for p in paths.values():
        assert os.path.isdir(p), p

    bronze = spark.read.parquet(paths["bronze"])
    assert "event_date" in bronze.columns  # partition column survives
    labeled = spark.read.parquet(paths["labeled"])
    assert "pbsi_score" in labeled.columns and "label_3cls" in labeled.columns
    assert labeled.filter(F.col("label_3cls").isNull()).count() == 0
    # quantile labels: both extremes occupied
    classes = {r["label_3cls"] for r in labeled.select("label_3cls").distinct().collect()}
    assert {-1, 1} <= classes

    segs = spark.read.parquet(paths["segments"])
    assert segs.count() >= 1
    # re-entrancy: gold can be rebuilt from silver alone, identically
    gold2 = pipeline.build_gold(spark, paths["silver"], str(tmp_path / "lake2"))
    l2 = spark.read.parquet(gold2["labeled"])
    assert sorted(map(str, l2.collect())) == sorted(map(str, labeled.collect()))


def _gold_oracle(silver_path: str):
    """DuckDB twin of gold/labeled and gold/segments, recomputed from the
    written silver: global z-scores (avg, stddev_samp, 6 dp) of the first
    three ``*_mean`` columns, the equal-weight composite clipped to +-3,
    P25/P75 ``quantile_cont`` labels, and gaps-and-islands date runs that
    break on a gap over one day or a month change."""
    import duckdb

    src = f"read_parquet('{silver_path}/*.parquet')"
    con = duckdb.connect()
    cols = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    num = [c for c in cols if c.endswith("_mean")][:3]
    w = round(1.0 / max(len(num), 1), 2)
    stats = ", ".join(
        f"avg({c}) AS mu{i}, stddev_samp({c}) AS sd{i}" for i, c in enumerate(num)
    )
    zs = ", ".join(
        f"round(CASE WHEN sd{i} > 0 THEN ({c} - mu{i}) / sd{i} "
        f"ELSE 0.0::DOUBLE END, 6) AS z{i}"
        for i, c in enumerate(num)
    )
    comp = " + ".join(
        f"coalesce(z{i}, 0.0::DOUBLE) * {w}::DOUBLE" for i in range(len(num))
    )
    labeled = con.sql(f"""
        WITH st AS (SELECT {stats} FROM {src}),
        z AS (SELECT date, {zs} FROM {src}, st),
        c AS (SELECT date,
                     round(least(greatest({comp}, -3.0::DOUBLE), 3.0::DOUBLE), 6)
                       AS pbsi_score
              FROM z),
        q AS (SELECT quantile_cont(pbsi_score, 0.25) AS lo,
                     quantile_cont(pbsi_score, 0.75) AS hi FROM c)
        SELECT date, pbsi_score,
               CASE WHEN pbsi_score <= lo THEN -1
                    WHEN pbsi_score >= hi THEN 1 ELSE 0 END AS label_3cls
        FROM c, q ORDER BY date
    """).fetchall()
    segments = con.sql(f"""
        WITH d AS (SELECT date, lag(date) OVER (ORDER BY date) AS prev FROM {src}),
        f AS (SELECT date,
                     CASE WHEN prev IS NULL OR date - prev > 1
                               OR month(date) <> month(prev)
                               OR year(date) <> year(prev)
                          THEN 1 ELSE 0 END AS is_new
              FROM d),
        g AS (SELECT date, sum(is_new) OVER (
                  ORDER BY date ROWS UNBOUNDED PRECEDING) AS segment_id
              FROM f)
        SELECT segment_id, min(date), max(date), count(*),
               datediff('day', min(date), max(date)) + 1
        FROM g GROUP BY segment_id ORDER BY segment_id
    """).fetchall()
    con.close()
    return labeled, segments


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01"])
def test_gold_values_match_duckdb(spark, sf_dir, tmp_path, scale):
    """Gold value parity: every date's PBSI score and label, and every
    segment, equal a DuckDB recomputation from the written silver."""
    out = str(tmp_path / "lake")
    src = os.path.join(os.path.dirname(sf_dir), scale)
    silver = pipeline.build_silver(
        spark, pipeline.build_bronze(spark, src, out), out
    )
    gold = pipeline.build_gold(spark, silver, out)
    want_labeled, want_segments = _gold_oracle(silver)

    got_labeled = [
        tuple(r)
        for r in spark.read.parquet(gold["labeled"])
        .select("date", "pbsi_score", "label_3cls")
        .orderBy("date")
        .collect()
    ]
    assert got_labeled == want_labeled
    got_segments = [
        tuple(r)
        for r in spark.read.parquet(gold["segments"])
        .select("segment_id", "date_start", "date_end", "n_days", "duration_days")
        .orderBy("segment_id")
        .collect()
    ]
    assert got_segments == want_segments


def _count_jobs(spark, group, build) -> int:
    """Spark jobs that ``build()`` runs, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bronze_job_budget(spark, sf_dir, tmp_path):
    """Once the events schema is known, bronze runs two jobs: the
    repartition's map stage and the write. Re-inferring the schema of
    the unchanged events file (+1) exceeds the budget."""
    Catalog(spark, sf_dir).events
    out = str(tmp_path / "lake")
    n_jobs = _count_jobs(
        spark, "bronze-job-budget", lambda: pipeline.build_bronze(spark, sf_dir, out)
    )
    assert 0 < n_jobs <= 2, n_jobs


def test_catalog_reuses_inferred_schema(spark, tmp_path):
    """The first read of a file infers its schema; a second read of the
    unchanged file runs no job, and a file rewritten at the same path
    with another schema is inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    cat = Catalog(spark, str(tmp_path))
    assert _count_jobs(spark, "schema-first", lambda: cat.table("t")) > 0
    second = {}
    n_jobs = _count_jobs(
        spark, "schema-reuse", lambda: second.update(df=cat.table("t"))
    )
    assert n_jobs == 0, n_jobs
    assert second["df"].collect() == [(1,), (2,), (3,)]

    pq.write_table(pa.table({"b": ["x", "y"], "c": [0.5, 1.5]}), path)
    again = Catalog(spark, str(tmp_path)).table("t")
    assert again.dtypes == [("b", "string"), ("c", "double")]
    assert sorted(again.collect()) == [("x", 0.5), ("y", 1.5)]


# query -> the most Spark jobs it may run, planned and written to the
# noop sink at sf0.001 with every source schema already known
MIX_JOB_BUDGETS = {
    "quantile_3way_label": 6,
    "etl_audit_report": 4,
    "temporal_instability_scores": 2,
    "pbsi_composite": 3,
    "rolling_corr_7d": 2,
    "date_spine_unify": 3,
    "impute_segments": 2,
    "adwin_changes": 2,
}


@pytest.mark.parametrize("query", sorted(MIX_JOB_BUDGETS))
def test_mix_job_budgets(spark, sf_dir, query):
    """The analytics mix's heaviest queries stay within their job
    budgets: the exact quantile in two one-job scans; the audit from
    three one-partition aggregates, each feeding its checks through one
    global aggregate; the day-frame queries (temporal instability, PBSI,
    rolling correlation, imputation) and ADWIN from one daily aggregate
    on one partition; the date spine as one union and one aggregate of
    its two dailies. A round-robin fan-out, a refined path with joined
    threshold frames, per-check audit aggregates, a joined segment
    assignment or z-score frame, a second imputation pass or spine joins
    each exceed them."""
    from practicum2_nof1_adhd_bd_spark.registry import QUERIES

    def run():
        QUERIES[query](spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()
    spark.catalog.clearCache()
    n_jobs = _count_jobs(spark, f"mix-budget-{query}", run)
    assert 0 < n_jobs <= MIX_JOB_BUDGETS[query], n_jobs


def test_medallion_landing_keyed_by_build_code(spark, sf_dir, tmp_path, monkeypatch):
    """medallion_silver_scan lands bronze and silver once per events file
    and build code: a changed digest of the code lands a fresh
    directory under the same prefix instead of reusing the old one."""
    import glob
    import tempfile

    from practicum2_nof1_adhd_bd_spark.registry import QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def landings():
        return set(glob.glob(str(tmp_path / "spark_graft_medallion_v1_*")))

    want = QUERIES["medallion_silver_scan"](spark, sf_dir).collect()
    first = landings()
    assert len(first) == 1
    QUERIES["medallion_silver_scan"](spark, sf_dir).collect()
    assert landings() == first
    monkeypatch.setattr(pipeline, "SILVER_SCHEMA", pipeline.SILVER_SCHEMA + " ")
    got = QUERIES["medallion_silver_scan"](spark, sf_dir).collect()
    assert len(landings() - first) == 1
    assert sorted(got) == sorted(want)


def test_silver_job_budget(spark, sf_dir, tmp_path):
    """Silver reads bronze with its declared schema and aggregates every
    declared type in one groupBy: one shuffle, so two jobs (the map
    stage and the write). An inferred bronze read (+1) or a pivot
    without a value list (+4) exceeds the budget."""
    out = str(tmp_path / "lake")
    bronze = pipeline.build_bronze(spark, sf_dir, out)
    n_jobs = _count_jobs(
        spark, "silver-job-budget", lambda: pipeline.build_silver(spark, bronze, out)
    )
    assert 0 < n_jobs <= 2, n_jobs


def test_gold_job_budget(spark, sf_dir, tmp_path):
    """Gold writes three daily-grain tables in three Spark jobs, one per
    write: every layer is read with its declared schema on one
    partition, so the whole-frame z-score and percentile windows and the
    segment groupBy plan with no exchange. An inferred read of silver,
    unified or labeled (+1 each), or a return to the broadcast z-score
    or threshold frames, exceeds the budget."""
    out = str(tmp_path / "lake")
    silver = pipeline.build_silver(
        spark, pipeline.build_bronze(spark, sf_dir, out), out
    )
    n_jobs = _count_jobs(
        spark, "gold-job-budget", lambda: pipeline.build_gold(spark, silver, out)
    )
    assert 0 < n_jobs <= 3, n_jobs


def _silver_and_labeled(spark, bronze, out):
    silver = pipeline.build_silver(spark, bronze, out)
    labeled = pipeline.build_gold(spark, silver, out)["labeled"]
    return _sorted_rows(spark, silver, "date"), _sorted_rows(spark, labeled, "date")


def test_undeclared_event_type_is_dropped(spark, sf_dir, tmp_path):
    """Silver keeps only the declared event types: a bronze with an extra
    type that sorts before all of them ("aaa") writes the same silver
    columns and rows, and the same gold labels, as the bronze without
    it. Under a column-order rule "aaa_mean" would displace one of the
    composite's inputs."""
    bronze = pipeline.build_bronze(spark, sf_dir, str(tmp_path / "lake"))
    ev = spark.read.schema(pipeline.BRONZE_SCHEMA).parquet(bronze)
    extra = ev.filter(F.col("event_type") == "click").withColumn(
        "event_type", F.lit("aaa")
    ).withColumn("value", F.col("value") * 7 + 1)
    with_extra = str(tmp_path / "bronze_extra")
    ev.unionByName(extra).write.partitionBy("event_date").parquet(with_extra)

    want = _silver_and_labeled(spark, bronze, str(tmp_path / "a"))
    got = _silver_and_labeled(spark, with_extra, str(tmp_path / "b"))
    assert got[0][0] == ["date"] + [
        f"{t}_{m}" for t in pipeline.EVENT_TYPES for m in ("n", "mean", "sum")
    ]
    assert want[0][1] and want[1][1]
    assert got == want


def test_silver_missing_type_is_null(spark, tmp_path):
    """A declared type with no events on a day gives null n, mean and sum
    on that day, not zero."""
    rows = [
        ("click", 1.0, "2024-01-01"),
        ("click", 2.0, "2024-01-01"),
        ("view", 4.0, "2024-01-01"),
        ("click", 3.0, "2024-01-02"),
    ]
    bronze = str(tmp_path / "bronze")
    spark.createDataFrame(rows, "event_type string, value double, d string").select(
        "event_type", "value", F.to_date("d").alias("event_date")
    ).write.partitionBy("event_date").parquet(bronze)
    silver = pipeline.build_silver(spark, bronze, str(tmp_path / "lake"))
    by_day = {
        r["date"].day: r.asDict()
        for r in spark.read.parquet(silver).collect()
    }
    assert sorted(by_day) == [1, 2]
    assert (by_day[1]["click_n"], by_day[1]["click_mean"], by_day[1]["click_sum"]) == (
        2, 1.5, 3.0
    )
    assert (by_day[1]["view_n"], by_day[1]["view_mean"]) == (1, 4.0)
    assert (by_day[2]["view_n"], by_day[2]["view_mean"], by_day[2]["view_sum"]) == (
        None, None, None
    )
    for t in ("error", "purchase", "signup"):
        for day in by_day.values():
            assert day[f"{t}_n"] is None and day[f"{t}_sum"] is None, t


def test_gold_identical_across_shuffle_partitions(spark, sf_dir, tmp_path):
    """Gold output does not depend on partitioning: the medallion built
    with 1 and with 7 shuffle partitions writes value-identical unified,
    labeled and segments tables. AQE coalescing is off for both builds,
    or it would merge the 7 tiny partitions back into one."""
    src = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    key = "spark.sql.shuffle.partitions"
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = {k: spark.conf.get(k) for k in (key, coalesce)}
    golds = []
    try:
        spark.conf.set(coalesce, "false")
        for n in (1, 7):
            spark.conf.set(key, str(n))
            paths = pipeline.run_medallion(spark, src, str(tmp_path / f"p{n}"))
            golds.append({
                layer: _sorted_rows(spark, paths[layer], date_col)
                for layer, date_col in (
                    ("unified", "date"),
                    ("labeled", "date"),
                    ("segments", "date_start"),
                )
            })
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    for layer in golds[0]:
        cols, rows = golds[0][layer]
        assert rows, layer
        assert golds[1][layer] == (cols, rows), layer


def _sorted_rows(spark, path, date_col):
    df = spark.read.parquet(path)
    return df.columns, [tuple(r) for r in df.orderBy(date_col).collect()]


def test_bronze_partition_pruning(spark, sf_dir, tmp_path):
    out = str(tmp_path / "lake")
    bronze_path = pipeline.build_bronze(spark, sf_dir, out)
    bronze = spark.read.parquet(bronze_path)
    plan = (
        bronze.filter(F.col("event_date") == "2024-01-05")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the date filter must reach the scan as a partition filter
    assert "PartitionFilters: [" in plan
    assert "event_date" in plan.split("PartitionFilters")[1][:200]


def test_asof_latest(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 10.0),
        (1, "2024-01-05 00:00:00", 20.0),
        (1, "2024-01-25 00:00:00", 99.0),  # after cutoff
        (2, "2024-01-03 00:00:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        r["user_id"]: r
        for r in joins.asof_latest(
            df, ["user_id"], "ts", F.lit("2024-01-20 00:00:00").cast("timestamp")
        ).collect()
    }
    assert out[1]["value_at"] == 20.0  # post-cutoff row excluded
    assert out[2]["value_at"] == 7.0


def test_pipeline_report_sections(spark, sf_dir):
    from practicum2_nof1_adhd_bd_spark.registry import QUERIES

    out = QUERIES["pipeline_report"](spark, sf_dir).collect()
    by = {(r["section"], r["metric"]): r["value"] for r in out}
    n_days = by[("data_summary", "n_days")]
    assert n_days > 0
    assert by[("data_summary", "span_days")] >= n_days
    # coverage percentages are bounded and consistent with day counts
    for (sec, met), v in by.items():
        if sec == "coverage" and met.startswith("pct_"):
            assert 0.0 <= v <= 100.0
            days = by[("coverage", "days_with_" + met[4:])]
            assert abs(v - round(days * 100.0 / n_days, 6)) < 1e-9
    # label distribution covers all labeled days and pcts sum to ~100
    counts = [v for (s, m), v in by.items()
              if s == "label_dist" and m.startswith("class_") and "pct" not in m]
    pcts = [v for (s, m), v in by.items() if s == "label_dist" and "pct" in m]
    assert sum(counts) == n_days  # every day gets a label in the pbsi chain
    assert abs(sum(pcts) - 100.0) < 1e-3
    # range section: min <= avg <= max
    assert (
        by[("error_range", "daily_mean_min")]
        <= by[("error_range", "daily_mean_avg")]
        <= by[("error_range", "daily_mean_max")]
    )


def test_cli_list_run_audit(spark, sf_dir, capsys, tmp_path):
    """§3.2-3.3 CLI surface: list filters, run prints/writes, audit exits
    with the severity code (reference's make qc-* contract)."""
    from practicum2_nof1_adhd_bd_spark.__main__ import main

    assert main(["list", "daily_event"]) == 0
    out = capsys.readouterr().out
    assert "daily_event_stats\toracle" in out

    assert main(["run", "daily_event_stats", "--sf-dir", sf_dir, "--limit", "3"]) == 0
    assert "value_mean" in capsys.readouterr().out

    dest = str(tmp_path / "out")
    assert main(["run", "dedup_by_key", "--sf-dir", sf_dir, "--out", dest]) == 0
    assert spark.read.parquet(dest).count() > 0

    assert main(["run", "no_such_query"]) == 2

    rc = main(["audit", "--sf-dir", sf_dir])
    rep = capsys.readouterr().out
    assert "hour_coverage_pct" in rep
    assert rc in (0, 1, 2)


def test_cli_ann_build_and_query(spark, sf_dir, capsys, tmp_path):
    """`ann build` lands the bucket-partitioned int8 vector index and
    `ann query` serves a top-k from it: a corpus vector's own row comes
    back first. A query without --vector exits 2."""
    from practicum2_nof1_adhd_bd_spark.__main__ import main

    index = str(tmp_path / "vindex")
    assert main(["ann", "build", "--index", index, "--sf-dir", sf_dir]) == 0
    assert "bucket-partitioned int8 index" in capsys.readouterr().out
    vec = Catalog(spark, sf_dir).embeddings.filter("vec_id = 0").first()
    arg = ",".join(repr(float(x)) for x in vec["embedding"])
    # the = form: argparse would read a leading "-0.1" as an option
    rc = main(["ann", "query", "--index", index, f"--vector={arg}", "--k", "3"])
    assert rc == 0
    rows = [
        line.split("|")[1].strip()
        for line in capsys.readouterr().out.splitlines()
        if line.startswith("|") and "vec_id" not in line
    ]
    assert len(rows) == 3 and rows[0] == "0"
    assert main(["ann", "query", "--index", index]) == 2


def test_cli_rejects_unknown_query_before_session_start(monkeypatch, capsys):
    """An unknown query name exits 2 without starting the JVM: the name
    is checked against the registry before any session is built."""
    from practicum2_nof1_adhd_bd_spark import session
    from practicum2_nof1_adhd_bd_spark.__main__ import main

    def _no_session(*args, **kwargs):
        raise AssertionError("get_spark called for an unknown query")

    monkeypatch.setattr(session, "get_spark", _no_session)
    assert main(["run", "no_such_query"]) == 2
    assert "unknown query: no_such_query" in capsys.readouterr().err
