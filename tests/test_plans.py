"""Physical-plan assertions — the optimizations we rely on must actually
appear in the executed plan (pushdown, pruning, broadcast, no stray
shuffles), not just be hoped for."""

from pyspark.sql import functions as F

from practicum2_nof1_adhd_bd_spark import registry
from practicum2_nof1_adhd_bd_spark.sources.readers import Catalog


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_range_filter_pushed_to_scan(spark, sf_dir):
    df = registry.QUERIES["daily_event_stats"](spark, sf_dir)
    plan = _plan(df)
    # the 30..220 predicate must reach the parquet reader
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:200]
    assert "GreaterThanOrEqual(value,30" in pushed
    assert "LessThanOrEqual(value,220" in pushed


def test_column_pruning_projects_only_needed(spark, sf_dir):
    li = Catalog(spark, sf_dir).lineitem
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    plan = _plan(df)
    schema_part = plan.split("ReadSchema")[1][:200]
    assert "l_returnflag" in schema_part and "l_quantity" in schema_part
    # a pruned scan must not read unrelated wide columns
    assert "l_comment" not in schema_part
    assert "l_extendedprice" not in schema_part


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(registry.QUERIES["region_revenue"](spark, sf_dir))
    # all three dimension joins must be broadcast (no shuffle of the fact)
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(registry.QUERIES["topk_customers"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_scalar_thresholds_broadcast_not_collected(spark, sf_dir):
    # two-pass quantile labeling: threshold frame joins via broadcast
    plan = _plan(registry.QUERIES["quantile_3way_label"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    # codegen'd operators carry the "*(n)" stage marker; AQE only finalizes
    # the plan on execution, so run the query first
    df = registry.QUERIES["pricing_summary"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "*(1)" in plan, plan[:500]


def test_left_semi_for_missing_days(spark, sf_dir):
    plan = _plan(registry.QUERIES["missing_days_per_user"](spark, sf_dir))
    assert "LeftAnti" in plan


def test_unigram_surprisal_broadcasts_vocab(spark, sf_dir):
    # the vocab->logp frame must broadcast; corpus text never shuffles
    plan = _plan(registry.QUERIES["unigram_surprisal"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hash_split_is_scan_only(spark, sf_dir):
    # split assignment is pure per-row arithmetic over doc_id: no join, no
    # aggregate; the only allowed exchange is fan_out's small-file widening
    plan = _plan(registry.QUERIES["hash_split"](spark, sf_dir))
    assert "Join" not in plan and "HashAggregate" not in plan
    # text column is never read — projection pruned to doc_id
    schema_part = plan.split("ReadSchema")[1][:120]
    assert "doc_id" in schema_part and "text" not in schema_part


def test_tfidf_single_corpus_scan(spark, sf_dir):
    plan = _plan(registry.QUERIES["tfidf_top_terms"](spark, sf_dir))
    # tf + per-source distinct counts come out of ONE (source, term)
    # aggregate; docfreq is a window over the vocab frame, so the corpus
    # parquet is scanned exactly once (plus the 1-row N_docs count scan)
    assert plan.count("documents.parquet") == 2
    assert "BroadcastNestedLoopJoin" in plan  # 1-row N_docs cross join
    assert "SortMergeJoin" not in plan


def test_pretraining_report_single_corpus_scan(spark, sf_dir):
    # split expr + content hash ride through the quality aggregate — the
    # documents parquet must appear exactly once in the executed plan
    plan = _plan(registry.QUERIES["pretraining_split_report"](spark, sf_dir))
    assert plan.count("documents.parquet") == 1
    assert "SortMergeJoin" not in plan


def test_snapshot_diff_exchanges_carry_hashes_not_text(spark, sf_dir):
    """The diff's contract: text is hashed before any exchange, so no
    shuffle (or its input projection) materializes the text column."""
    plan = _plan(registry.QUERIES["snapshot_diff_report"](spark, sf_dir))
    for chunk in plan.split("Exchange")[1:]:
        header = chunk.split("\n")[0]
        assert "text#" not in header, header


def test_provenance_scan_prunes_to_digest_columns(spark, sf_dir):
    """The manifest must not read columns outside the canonical set —
    lineitem's digest skips the double columns, so the scan schema must
    exclude them."""
    from practicum2_nof1_adhd_bd_spark.operators import provenance

    li = Catalog(spark, sf_dir).lineitem
    df = provenance.table_manifest(
        li, "lineitem", registry._PROVENANCE_COLS["lineitem"]
    )
    plan = _plan(df)
    schema_part = plan.split("ReadSchema")[1][:300]
    assert "l_returnflag" in schema_part
    assert "l_extendedprice" not in schema_part
    assert "l_quantity" not in schema_part


def test_iphone_backup_single_domain_exchange(spark, tmp_path):
    """Manifest scan -> rollup: one exchange (domain grain), the sqlite
    payload never enters a shuffle."""
    import sqlite3

    from practicum2_nof1_adhd_bd_spark.sources import iphone_backup

    db = tmp_path / "Manifest.db"
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE Files (fileID TEXT, domain TEXT, relativePath TEXT, "
        "flags INT, file BLOB)"
    )
    con.execute("INSERT INTO Files VALUES ('a', 'd', 'p/f', 1, NULL)")
    con.commit()
    con.close()
    df = iphone_backup.domain_profile(
        iphone_backup.read_backup_manifests(spark, str(db))
    )
    plan = _plan(df)
    assert plan.count("Exchange") <= 2  # partial-agg exchange (+AQE read)


def test_ingest_screen_needs_no_index_text(spark):
    """The ingest screen consumes ONLY the stored signature index — the
    index schema has no text column at all, so by construction no plan
    can re-shingle the corpus side (incremental_near_dup, by contrast,
    requires index text for its exact verify). A batch doc whose
    signature matches a stored signature must still be flagged."""
    from practicum2_nof1_adhd_bd_spark.operators.dedup import (
        minhash_signatures_df,
    )
    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    text = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    src = spark.createDataFrame(
        [(99, text)], "doc_id bigint, text string"
    )
    sig = minhash_signatures_df(src).collect()[0]["sig"]
    index = spark.createDataFrame(
        [(99, "nonmatching-hash", sig)], ci.INDEX_SCHEMA
    )
    batch = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    dec, _sigs, cleanup = ci.screen_batch(batch, index)
    try:
        rows = {r["doc_id"]: r for r in dec.collect()}
        # exact hash differs (index stores a fake hash), but the stored
        # SIGNATURE matches perfectly -> near_dup via the estimate alone
        assert rows[1]["status"] == "near_dup"
        assert rows[1]["matched_id"] == 99
    finally:
        cleanup()


def test_q15_single_lineitem_scan_and_broadcast_max(spark, sf_dir):
    """top_supplier_revenue: the revenue view fans out to two consumers
    and is eagerly checkpointed, so the returned plan reads the
    materialized supplier-grain frame — ZERO lineitem scans inside it
    (the one scan happened at build); the scalar max joins back as a
    broadcast."""
    df = registry.QUERIES["top_supplier_revenue"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert plan.count("lineitem.parquet") == 0, plan.count("lineitem.parquet")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_auc_window_runs_on_per_score_frame(spark, sf_dir):
    """auc_persistence: the cumulative window must consume the
    per-distinct-score aggregate (HashAggregate below the Window), never
    raw rows — that is the bounded-state contract of the Mann-Whitney
    formulation."""
    df = registry.QUERIES["auc_persistence"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "Window" in plan
    # the aggregate collapsing rows to distinct scores sits below the window
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan[win_pos:], "per-score agg must feed the window"


def test_vector_index_probe_prunes_partitions(spark, tmp_path, sf_dir):
    """write_vector_index + query_vector_index: the probe's bucket filter
    must reach the scan as PartitionFilters (directory pruning — the
    disk-layout contract all the ANN scale claims assume), the artifact
    must store int8 rows (VECTOR_INDEX_SCHEMA), and results must match a
    numpy replay of the quantize -> dequantize -> in-ball cosine rank."""
    import numpy as np

    from practicum2_nof1_adhd_bd_spark.operators import similarity as sim
    from practicum2_nof1_adhd_bd_spark.sources.readers import Catalog

    emb = Catalog(spark, sf_dir).embeddings
    path = str(tmp_path / "vindex")
    sim.write_vector_index(emb, path, n_bits=4)
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    out = sim.query_vector_index(spark, path, qvec, k=5, probe_hamming=0)
    rows = out.collect()
    plan = _plan(out)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "bucket" in pf
    # the stored rows are the int8 artifact form, bucket as partition col
    stored = spark.read.parquet(path)
    assert dict(stored.dtypes)["qvec"] == "array<tinyint>"
    assert {"vec_id", "qvec", "scale", "nrm", "bucket"} <= set(stored.columns)
    # numpy replay: quantize every in-ball vector, rank dequantized cosine
    qb = sum(1 << j for j in range(4) if qvec[j] > 0)
    pdf = emb.toPandas()
    scored = []
    qn = np.sqrt(np.dot(qvec, qvec))
    for _, r in pdf.iterrows():
        v = np.asarray([float(x) for x in r["embedding"]])
        if sum(1 << j for j in range(4) if v[j] > 0) != qb:
            continue
        sc = max(np.abs(v).max(), 1e-12) / 127.0
        # replay Spark F.round HALF_UP (away from zero), not np.round's
        # banker's half-to-even — a component landing exactly on a .5
        # quantization boundary would otherwise flake the replay
        dv = np.trunc(v / sc + np.copysign(0.5, v)) * sc
        cos = round(float(np.dot(dv, qvec) / (np.sqrt(np.dot(dv, dv)) * qn)), 6)
        scored.append((cos, int(r["vec_id"])))
    expect = [i for c, i in sorted(scored, key=lambda t: (-t[0], t[1]))[:5]]
    assert [r["vec_id"] for r in rows] == expect


def test_disjunctive_envelope_filters_reach_both_scans(spark, sf_dir):
    """Q19 shape contract: Catalyst cannot derive per-side envelope
    filters from an OR-of-ANDs join predicate, so the query writes them
    explicitly — the brand IN-list must be pushed to the part scan and
    the quantity envelope to the lineitem scan. If either pushdown
    disappears, the join sees an unpruned side and the plan silently
    degrades to scanning everything."""
    df = registry.QUERIES["disjunctive_brand_revenue"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters" in plan
    scans = plan.split("PushedFilters")[1:]
    assert any("p_brand" in s[:400] and "In(" in s[:400] for s in scans)
    assert any(
        "l_quantity" in s[:400]
        and "GreaterThanOrEqual" in s[:400]
        and "LessThanOrEqual" in s[:400]
        for s in scans
    )
    assert "BroadcastHashJoin" in plan  # part side broadcasts


def test_market_share_is_broadcast_star(spark, sf_dir):
    """Q8 shape contract: every dimension (PROMO parts, EUROPE
    customers, supplier-nation tag) joins by broadcast; the only
    shuffle pair in the plan is the lineitem |><| orders equijoin plus
    the final year aggregate — no dimension may fall back to a
    sort-merge join of the fact."""
    df = registry.QUERIES["market_share"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    # the disjunction-free dims never sort-merge against the fact
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_sole_return_supplier_single_fact_exchange(spark, sf_dir):
    """Q21 shape contract: the exists/not-exists pair is expressed as
    two cascaded aggregations, so lineitem is scanned ONCE and the only
    fact-grain exchange is the (orderkey, suppkey) groupBy — the
    textbook three-scan, two-self-join plan must not reappear. The
    supplier dim broadcasts."""
    df = registry.QUERIES["sole_return_supplier"](spark, sf_dir)
    plan = _plan(df)
    # exactly one scan of lineitem
    assert plan.count("lineitem.parquet") == 1 or plan.count("lineitem") >= 1
    scans = [seg for seg in plan.split("FileScan") if "lineitem" in seg[:300]]
    assert len(scans) == 1
    assert "BroadcastHashJoin" in plan


def test_min_cost_supplier_single_fact_scan_window_not_selfjoin(spark, sf_dir):
    """Q2 shape contract: the correlated min-cost subquery is a WINDOW
    over the once-aggregated (part, supplier) cost grain — lineitem is
    scanned ONCE (no per-probe re-evaluation), both prunes reach the
    fact as broadcast semi joins BEFORE the groupBy, and every dim join
    broadcasts."""
    df = registry.QUERIES["min_cost_supplier"](spark, sf_dir)
    plan = _plan(df)
    # seg[:1000], not [:300]: in a long-lived session attribute ids grow
    # to 4-5 digits and the scan's column list pushes the file path past
    # 300 chars
    scans = [seg for seg in plan.split("FileScan") if "lineitem" in seg[:1000]]
    assert len(scans) == 1
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "Window" in plan
    # the semi prunes sit below the aggregation: the lineitem scan's
    # section of the plan joins before any HashAggregate above it runs
    assert "SortMergeJoin" not in plan


def test_excess_shipment_suppliers_single_fact_exchange(spark, sf_dir):
    """Q20 shape contract: the correlated half-quantity threshold and
    its probe side are conditional sums of ONE (suppkey, partkey)
    aggregation — one lineitem scan, the part selection pushed in as a
    broadcast semi join, and the supplier/nation/region chain
    broadcast."""
    df = registry.QUERIES["excess_shipment_suppliers"](spark, sf_dir)
    plan = _plan(df)
    scans = [seg for seg in plan.split("FileScan") if "lineitem" in seg[:1000]]
    assert len(scans) == 1
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval/benchmark side of the fuzzy decontamination screen is
    megabytes against a 100-TB corpus, but the optimizer cannot infer
    that through the signature derivation — the operator must broadcast
    it explicitly so the band join never shuffles training signatures."""
    df = registry.QUERIES["decontaminate_fuzzy"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_nation_profit_single_fact_fact_shuffle(spark, sf_dir):
    """Q9 shape contract: the part LIKE prune broadcasts into lineitem
    BEFORE the unavoidable fact-to-fact orderkey join, supplier/nation
    broadcast, and lineitem is scanned once — the pruned slice, not the
    whole fact, meets orders at the shuffle."""
    df = registry.QUERIES["nation_profit_share"](spark, sf_dir)
    plan = _plan(df)
    scans = [seg for seg in plan.split("FileScan") if "lineitem" in seg[:1000]]
    assert len(scans) == 1
    assert "BroadcastHashJoin" in plan


def test_important_stock_single_fact_scan_broadcast_threshold(spark, sf_dir):
    """Q11 shape contract: the per-part grain fans out to the threshold
    re-aggregation AND the filter side, so it is eagerly checkpointed
    (the Q15 device) — the returned plan reads the materialized grain
    with ZERO lineitem scans (the one scan happened at build), and the
    1-row (total, n_parts) threshold joins back as a broadcast."""
    df = registry.QUERIES["important_stock_parts"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert plan.count("lineitem.parquet") == 0, plan.count("lineitem.parquet")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_parts_supplier_counts_anti_join_broadcasts(spark, sf_dir):
    """Q16 shape contract: the NOT-IN supplier exclusion is a BROADCAST
    left anti join (never a shuffle), the part prune broadcasts into the
    fact before the distinct aggregation, and the distinct-count runs as
    Spark's two-phase partial/final HashAggregate — one lineitem scan,
    no sort-merge join."""
    df = registry.QUERIES["parts_supplier_counts"](spark, sf_dir)
    plan = _plan(df)
    scans = [seg for seg in plan.split("FileScan") if "lineitem" in seg[:1000]]
    assert len(scans) == 1
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" in plan


def test_q6_all_predicates_pushed_to_scan(spark, sf_dir):
    """Q6 shape contract: the date range, discount band, and quantity cap
    must all reach the parquet scan as pushed filters — the aggregate
    runs over statistics-pruned row groups, which is the entire point of
    the query at 100 TB. No join, no exchange beyond the final 1-row
    partial-agg merge."""
    df = registry.QUERIES["forecast_revenue_change"](spark, sf_dir)
    plan = _plan(df)
    scan = [seg for seg in plan.split("FileScan") if "lineitem" in seg[:1000]]
    assert len(scan) == 1
    pushed = scan[0][scan[0].find("PushedFilters"):][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    assert "Join" not in plan


def test_q14_single_aggregate_broadcast_dim(spark, sf_dir):
    """Q14 shape contract: one lineitem scan (date range pushed), the
    part dim broadcast, and BOTH conditional sums from a single
    aggregate — no second pass, no sort-merge join."""
    df = registry.QUERIES["promo_revenue_share"](spark, sf_dir)
    plan = _plan(df)
    scans = [seg for seg in plan.split("FileScan") if "lineitem" in seg[:1000]]
    assert len(scans) == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    pushed = scans[0][scans[0].find("PushedFilters"):][:300]
    assert "l_shipdate" in pushed


def test_q12_date_pushdown_single_join_pass(spark, sf_dir):
    """Q12 shape contract: the ship-year range reaches the lineitem scan
    as pushed filters (the derived ship_mode membership can't — it's an
    expression over stored columns, so it runs as a post-scan filter),
    each fact is scanned once, and BOTH priority counts come out of ONE
    join pass — no second orders scan, no pivot. The late predicate
    rides the equi-join as a residual condition, never a second pass."""
    df = registry.QUERIES["shipmode_priority_counts"](spark, sf_dir)
    plan = _plan(df)
    li_scans = [seg for seg in plan.split("FileScan") if "lineitem" in seg[:1000]]
    o_scans = [seg for seg in plan.split("FileScan") if "orders" in seg[:1000]]
    assert len(li_scans) == 1 and len(o_scans) == 1
    pushed = li_scans[0][li_scans[0].find("PushedFilters"):][:300]
    assert "l_shipdate" in pushed, pushed
    assert plan.count("Join") >= 1


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """The E-S sampler's physical plan must be the k-row-per-partition
    TakeOrdered merge, never a global sort of the corpus."""
    plan = _plan(registry.QUERIES["weighted_sample_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_setsim_prefix_rank_map_broadcasts(spark, sf_dir):
    """The global-rarity rank dictionary is vocab-sized and must reach
    the corpus-grain token table as a broadcast, not a shuffle join."""
    plan = _plan(registry.QUERIES["setsim_prefix_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_literal_frames_scan_no_python_rdd(spark, sf_dir):
    """The analytics mix and the three other queries with literal tables
    build those tables as VALUES relations: a ``createDataFrame`` list is
    a Python RDD (``Scan ExistingRDD``), whose Python worker costs about a
    second per query for a handful of rows."""
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "perfbench"))
    from workloads import ANALYTICS_MIX

    names = [*ANALYTICS_MIX, "point_in_interval", "doc_size_qsketch_log", "snapshot_provenance"]
    for name in names:
        assert "ExistingRDD" not in _plan(registry.QUERIES[name](spark, sf_dir)), name
