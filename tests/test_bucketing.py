"""Bucketed co-located join — the shuffle-elimination path for repeated
big-big joins (SURVEY §4 'partition by participant, cluster by date')."""

from pyspark.sql import functions as F


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    fact = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    dim = spark.range(0, 10000, 2).select(
        F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    try:
        for name, df in (("bt_fact", fact), ("bt_dim", dim)):
            (
                df.write.mode("overwrite")
                .option("path", str(tmp_path / name))
                .bucketBy(8, "k")
                .sortBy("k")
                .saveAsTable(name)
            )
        t1, t2 = spark.table("bt_fact"), spark.table("bt_dim")
        joined = t1.hint("merge").join(t2, "k")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # bucketing on both sides satisfies the join distribution: the only
        # acceptable plan has NO shuffle exchange
        assert "Exchange hashpartitioning" not in plan, plan[:1500]
        assert joined.count() == 5000
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_fact")
        spark.sql("DROP TABLE IF EXISTS bt_dim")


def test_bucketed_join_scan_zero_exchange(spark, sf_dir):
    """The registry's served form (r14 verdict #4): bucketed fact-fact
    SMJ + per-order re-aggregation with ZERO Exchange anywhere in the
    executed plan — the bucketed scans satisfy both the join's and the
    groupBy's distribution (hash on a prefix of the grouping keys)."""
    from practicum2_nof1_adhd_bd_spark import registry

    df = registry.QUERIES["bucketed_join_scan"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan[:2000]
    # AQE prints the scans in both the final and initial plan sections
    assert plan.count("Bucketed: true") >= 2, "both scans must be bucketed"


def test_bucketed_facts_one_file_per_bucket(spark, tmp_path, sf_dir):
    """The hash-matched pre-repartition yields exactly one file per
    bucket — commit/listing overhead tracks bucket count, not tasks."""
    import glob

    from practicum2_nof1_adhd_bd_spark.operators import layout

    paths = layout.build_bucketed_facts(
        spark, sf_dir, str(tmp_path), n_buckets=4
    )
    for p in paths.values():
        files = glob.glob(f"{p}/part-*")
        assert len(files) == 4, files


def test_bucketed_layout_prunes_buckets_for_point_lookup(spark, tmp_path, sf_dir):
    """The same layout that kills the join shuffle also serves point
    lookups at 1/N cost: an equality filter on the bucket key prunes the
    scan to ONE bucket (SelectedBucketsCount: 1 out of N) — at 100 TB a
    key fetch touches one bucket's files, not the table."""
    from practicum2_nof1_adhd_bd_spark.operators import layout

    paths = layout.build_bucketed_facts(
        spark, sf_dir, str(tmp_path), n_buckets=4
    )
    orders, _ = layout.ensure_bucketed_facts(
        spark, paths, tag="prune", sf_dir=sf_dir, n_buckets=4
    )
    # the auto-bucketed-scan heuristic turns the bucketed read OFF when
    # no join/agg needs the distribution — but that also forfeits bucket
    # PRUNING, which is exactly what a point lookup wants; pin it on
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        df = orders.filter("o_orderkey = 7")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 4" in plan, plan[:1500]
    finally:
        spark.conf.set(key, prev)


def test_bucketed_point_lookup_prunes_to_one_bucket(spark, sf_dir):
    """The serving path (r15 verdict #8): an equality filter on the
    bucket key must prune BOTH scans to exactly one bucket
    (SelectedBucketsCount: 1 out of 8) and join them with no Exchange —
    the 1/N point-lookup cost model SCALING §2v claims."""
    from practicum2_nof1_adhd_bd_spark import registry
    from practicum2_nof1_adhd_bd_spark.operators import layout

    df = registry.QUERIES["bucketed_point_lookup"](spark, sf_dir)
    rows = df.collect()
    assert rows, "lookup key must exist in the shipped testdata"
    assert [r["l_linenumber"] for r in rows] == sorted(
        r["l_linenumber"] for r in rows
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints scans in final + initial sections; every printed scan
    # must carry the one-bucket selection. The bucket count is
    # scale-adaptive (layout.derive_bucket_count), so the
    # expected N is derived, not pinned.
    n = layout.derive_bucket_count(sf_dir)
    n_sel = plan.count(f"SelectedBucketsCount: 1 out of {n}")
    assert n_sel >= 2, plan[:2000]
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
