"""Driver-contract invariants: entry/queries/oracle_sql shape + determinism."""

import __spark_entry__ as entrymod


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every query is callable
    assert all(callable(f) for f in qs.values())
    # rows-only (no-oracle) queries are exactly the ones whose output is
    # not SQL-expressible: the sequential ADWIN detector, iterative
    # segment imputation, the fold-CV model fits (MLlib logistic
    # regression, the sequence-model cells, the zoo and the selection
    # grid; gradients finite-difference-verified in tests/test_deep.py),
    # quality_classifier_fit (distributed logistic GD, numpy-reference-
    # verified in tests/test_textops.py; its frozen-weight scoring twin
    # quality_classifier_scores IS oracle-attested)
    assert len(qs) >= 40
    assert set(qs) - set(oracles) == {
        "adwin_changes", "impute_segments", "logreg_fold_cv",
        "lstm_fold_cv", "gru_fold_cv", "conv1d_fold_cv",
        "cnn_lstm_fold_cv", "model_zoo_fold_cv", "model_selection_grid",
        "quality_classifier_fit",
    }


def test_entry_runs_and_is_deterministic(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == entrymod.entry(spark).columns
    again = entrymod.entry(spark).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_sample_queries_run_at_sf0001(spark, sf_dir):
    qs = entrymod.queries()
    for name in ("daily_event_stats", "pbsi_composite", "gaps_islands_segments"):
        out = qs[name](spark, sf_dir)
        assert out.count() > 0, name


def test_attestation_window_is_stable():
    """The external harness attests the FIRST 50 queries; pin the window so
    a stray registration cannot silently displace an entry before it has
    been attested. Round-16 window (r15 verdict #1): canary + the 3
    r16-new queries (bucket-pruned point lookup, WinZip-AES encrypted
    ZIP scan, exact linear SHAP) + the r16 behavior-touched set
    (unigram_surprisal explode-free total, bigram/trigram explode-free
    model scalars) + date_spine_unify (J2 rewritten as one union and one
    aggregate) + the 6
    owed r10-cohort queries + the first 36 of the 44-query
    last-green-r11 cohort in ledger order (the remaining 7 spill to
    r17 — COVERAGE.md ledger). Rows-only (no-oracle) queries
    must NOT occupy window slots."""
    names = list(entrymod.queries())
    window = names[:50]
    oracles = entrymod.oracle_sql()
    assert window[0] == "daily_event_stats"  # cross-round canary
    for must in (
        # new r16
        "bucketed_point_lookup", "encrypted_zip_scan",
        "shap_attribution_topk",
        # behavior-touched r16
        "unigram_surprisal", "bigram_surprisal", "trigram_surprisal",
        # implementation rewritten (J2: one union and one aggregate)
        "date_spine_unify",
        # the 6 owed r10-cohort queries (r15 verdict #1)
        "sole_return_supplier", "stratified_sample_k", "user_last_value",
        "vector_index_topk", "volume_shipping", "xml_records_scan",
        # the 38-query r11-cohort slice (ledger order)
        "auto_segment_triggers", "bloom_screen_decisions",
        "decontaminate_fuzzy", "decontaminate_ngram",
        "dominant_source_change", "dsir_select_topk", "exact_dedup",
        "excess_shipment_suppliers", "feature_attribution_topk",
        "fold_class_check", "forward_fill_daily", "global_zscore",
        "high_activity_blocks", "ks_drift",
        "label_halves_drift", "lag_persistence", "late_shipment_priority",
        "macro_summary", "majority_baseline", "min_cost_supplier",
        "missing_days_per_user", "nation_profit_share", "nway_outer_merge",
        "pbsi_composite", "per_class_metrics", "pipeline_report",
        "pricing_summary", "quantile_3way_label",
        "quantile_3way_label_approx", "rolling_7d_mean",
        "rolling_modal_label", "selection_rule_report", "shipping_priority",
        "sliding_seq_stats", "snapshot_provenance",
    ):
        assert must in window, must
    # every window slot must carry a value-hash oracle: a rows-only entry
    # posts as `err: no_oracle` (red on the driver board) by construction
    no_oracle_in_window = [n for n in window if n not in oracles]
    assert not no_oracle_in_window, no_oracle_in_window


def test_front_order_fits_attestation_window():
    """Everything placed in _FRONT_ORDER is meant to be attested; if the
    list outgrows the harness's first-50 window, the tail silently loses
    its attestation — fail loudly instead."""
    from practicum2_nof1_adhd_bd_spark import registry

    assert len(registry._FRONT_ORDER) <= 50


def test_no_oracle_emits_hugeint():
    """DuckDB widens sum(integer) to HUGEINT (int128); Spark emits BIGINT.
    The driver's value hasher renders the two differently even when the
    numbers are equal, so a single uncast integer sum() in an oracle turns
    its query hash-red (the root cause of all six r05 failures). Bind every
    oracle's plan and assert no result column is HUGEINT — integer sums
    must be CAST(... AS BIGINT)."""
    import duckdb

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in (
        "region nation customer supplier part orders "
        "lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    offenders = []
    for name, sql in entrymod.oracle_sql().items():
        rel = con.sql(sql)  # lazy: binds types without executing
        for col, typ in zip(rel.columns, [str(t) for t in rel.types]):
            if "HUGEINT" in typ:
                offenders.append((name, col, typ))
    assert not offenders, offenders


def test_readme_counts_match_registry():
    """README drift guard (r05 verdict): the advertised query/oracle counts
    must track the registry."""
    import re

    text = open("README.md").read()
    m = re.search(r"\*\*(\d+) registered queries\*\* \((\d+) with", text)
    assert m, "README query-count line missing"
    qs, orc = entrymod.queries(), entrymod.oracle_sql()
    assert int(m.group(1)) == len(qs), (m.group(1), len(qs))
    assert int(m.group(2)) == len(orc), (m.group(2), len(orc))


def test_bench_headline_queries_exist():
    """bench.py's HEADLINE list must track the registry — a renamed query
    would otherwise break the driver's per-round bench run."""
    import bench

    qs = entrymod.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, missing


def test_bench_stdout_line_bounded_at_any_headline_count():
    """The driver keeps only a 2000-char stdout tail; r09/r10 lost their
    parsed bench blobs when the full per-query dict outgrew it, and the
    r16 VERDICT found the [median, ratio] digest entries defeated the
    driver's per-query parser two rounds running. The line must stay
    inside budget even at 90 long-named queries, keep the
    driver-contract fields, carry SCALAR seconds per query, and fill
    slowest-first (a regressed query enters the set by construction)."""
    import json

    import bench

    names = [f"extremely_long_headline_query_name_{i:03d}" for i in range(90)]
    timings = {n: 1.0 + (i % 7) * 0.37 for i, n in enumerate(names)}
    ratios = {n: 1.0 + (i % 13) * 0.25 for i, n in enumerate(names)}
    record = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "min_total": 12.345,
        "sf": 0.1,
    }
    line = bench._stdout_line(record, ratios)
    assert len(line) <= 1950, len(line)
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed
    assert parsed["n_queries"] == 90
    assert parsed["queries"], "digest must carry at least some queries"
    # slowest-first prefix: every included median >= every excluded one
    included = set(parsed["queries"])
    worst_excluded = max(
        (timings[n] for n in names if n not in included), default=0.0
    )
    assert all(timings[n] >= worst_excluded for n in included)
    # entries are scalar seconds at 2dp — the driver-parseable shape
    for n, v in parsed["queries"].items():
        assert isinstance(v, (int, float)), (n, v)
        assert v == round(timings[n], 2)


def test_bench_floors_ledger_covers_headline():
    """BENCH_FLOORS.json (the cross-round noise-floor ledger) must exist
    and only shrink: every floor is positive, and _load_floors
    round-trips it."""
    import bench

    floors = bench._load_floors("BENCH_FLOORS.json", sf="0.1")
    assert floors, "floors ledger missing"
    assert all(v > 0 for v in floors.values())


def test_land_once_age_gated_reap_and_lock(tmp_path):
    """r14 verdict #8: a fresh sibling landing (possibly mid-read in a
    concurrent process) must survive a reap; a superseded copy from a
    past round is reaped; re-land is a no-op; concurrent landers
    serialize on the prefix flock instead of double-writing."""
    import os
    import threading
    import time

    from practicum2_nof1_adhd_bd_spark import registry

    prefix = str(tmp_path / "land")
    old, fresh = f"{prefix}_oldfp", f"{prefix}_freshfp"
    os.makedirs(old)
    os.makedirs(fresh)
    past = time.time() - registry._LAND_REAP_AGE_S - 60
    os.utime(old, (past, past))

    writes = []

    def _mk(tmp):
        os.makedirs(tmp)
        writes.append(tmp)

    path = registry._land_once(prefix, "newfp", _mk)
    assert path.endswith("_newfp") and os.path.isdir(path)
    assert not os.path.exists(old), "hours-old superseded copy reaped"
    assert os.path.isdir(fresh), "fresh sibling must survive (read guard)"
    # idempotent: an existing landing is never rewritten
    registry._land_once(prefix, "newfp", _mk)
    assert len(writes) == 1

    # two concurrent landers of DIFFERENT fingerprints: the flock
    # serializes the critical sections, and neither reaps the other's
    # just-landed (fresh) dir
    order = []

    def _slow_mk(tmp):
        os.makedirs(tmp)
        order.append("a-write")
        time.sleep(0.3)

    def _b():
        registry._land_once(
            prefix, "fpB", lambda t: (os.makedirs(t), order.append("b-write"))
        )

    t_a = threading.Thread(
        target=lambda: registry._land_once(prefix, "fpA", _slow_mk)
    )
    t_b = threading.Thread(target=_b)
    t_a.start()
    time.sleep(0.05)
    t_b.start()
    t_a.join()
    t_b.join()
    assert os.path.isdir(f"{prefix}_fpA") and os.path.isdir(f"{prefix}_fpB")
    assert order.index("a-write") < order.index("b-write")


def test_land_once_reuse_refreshes_age_gate(tmp_path):
    """r16 (caught by the full 10x probe): the reap age gate must measure
    NON-USE, not creation. A landing two sibling fingerprints alternate
    over would otherwise age past the gate while actively read, and the
    sibling's _land_once would delete it between two of the same
    process's reads (FAILED_READ_FILE mid-probe). Reuse bumps mtime, so
    an in-use landing survives any sibling's reap."""
    import os
    import time

    from practicum2_nof1_adhd_bd_spark import registry

    prefix = str(tmp_path / "land")
    aged = f"{prefix}_activefp"
    os.makedirs(aged)
    past = time.time() - registry._LAND_REAP_AGE_S - 60
    os.utime(aged, (past, past))

    # reuse (a query touching the old-but-active landing) refreshes it
    registry._land_once(prefix, "activefp", lambda t: os.makedirs(t))
    assert time.time() - os.stat(aged).st_mtime < 60, "reuse must bump mtime"
    # a sibling fingerprint landing right after must NOT reap it
    registry._land_once(prefix, "otherfp", lambda t: os.makedirs(t))
    assert os.path.isdir(aged), "active landing reaped by sibling"
