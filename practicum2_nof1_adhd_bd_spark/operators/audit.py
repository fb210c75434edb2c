"""Data-quality audit framework — SURVEY.md §5 (the reference's test
strategy made an engine operator).

The reference replaced its pytest suite with a domain-audit system
(ref src/etl/etl_audit.py:40-1741, class ETLAuditor): duplicate-date
detection, date-span vs unique-days monotonicity, fabrication detection
(suspiciously constant daily stats), domain-coverage profiling, each with a
CRITICAL/WARNING/INFO severity. Here each check is one aggregation over the
daily frame and the report is itself a DataFrame — auditable tables instead
of log lines, and SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _rows(base: DataFrame, *checks: tuple) -> DataFrame:
    """One report row per ``(check, severity, metric, threshold)`` of the
    1-row ``base`` in one projection: per-check union branches would each
    get a column-pruned aggregate, so each would rerun its own exchange."""
    return base.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(check).alias("check_name"),
                        severity.alias("severity"),
                        F.round(metric, 6).cast("double").alias("metric"),
                        F.lit(float(threshold)).alias("threshold"),
                    )
                    for check, severity, metric, threshold in checks
                ]
            )
        )
    )


def audit_daily_frame(
    daily: DataFrame,
    date_col: str = "date",
    mean_col: str = "value_mean",
    min_col: str = "value_min",
    std_col: str = "value_std",
    fabrication_pct_max: float = 10.0,
    missing_pct_max: float = 5.0,
) -> DataFrame:
    """Audit a daily metric frame; one row per check.

    Checks (ref etl_audit.py):
    - duplicate_dates: rows − distinct dates must be 0 (CRITICAL, :168-175)
    - span_coverage: % of calendar days in [min,max] that are present;
      missing % above threshold is a WARNING (:283-302)
    - fabrication_min_eq_mean: % days with min == mean (a constant-signal
      smell) must stay under threshold (WARNING, :458-480)
    - fabrication_zero_std: % days with std == 0 under threshold (:458-480)
    """
    base = daily.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(date_col).alias("n_dates"),
        F.min(date_col).alias("d0"),
        F.max(date_col).alias("d1"),
        F.avg((F.col(min_col) == F.col(mean_col)).cast("double")).alias("pct_min_eq_mean"),
        F.avg((F.col(std_col) == 0).cast("double")).alias("pct_zero_std"),
    )

    dup = (
        "duplicate_dates",
        F.when(F.col("n_rows") > F.col("n_dates"), "CRITICAL").otherwise("OK"),
        (F.col("n_rows") - F.col("n_dates")).cast("double"),
        0.0,
    )
    span_missing = (
        (F.datediff("d1", "d0") + 1 - F.col("n_dates"))
        * 100.0
        / (F.datediff("d1", "d0") + 1)
    )
    span = (
        "span_missing_pct",
        F.when(span_missing > missing_pct_max, "WARNING").otherwise("OK"),
        span_missing,
        missing_pct_max,
    )
    fab_mm = (
        "fabrication_min_eq_mean_pct",
        F.when(F.col("pct_min_eq_mean") * 100 > fabrication_pct_max, "WARNING")
        .otherwise("OK"),
        F.col("pct_min_eq_mean") * 100,
        fabrication_pct_max,
    )
    fab_std = (
        "fabrication_zero_std_pct",
        F.when(F.col("pct_zero_std") * 100 > fabrication_pct_max, "WARNING")
        .otherwise("OK"),
        F.col("pct_zero_std") * 100,
        fabrication_pct_max,
    )
    return _rows(base, dup, span, fab_mm, fab_std)


def audit_value_ranges(
    daily: DataFrame,
    mean_col: str = "value_mean",
    n_col: str = "n_events",
    lo: float = 30.0,
    hi: float = 220.0,
    viol_pct_max: float = 10.0,
) -> DataFrame:
    """Per-domain biological-range audit (ref etl_audit.py:407-543 cardio
    integrity checks): the % of daily means outside the physiological
    band [lo, hi] is CRITICAL past the threshold (the audit-side twin of
    the F1/F2 range filters), and the % of single-sample days — the
    reference's per-day ``is_single_sample`` flag (:530-535) — is an
    always-emitted INFO row (informational, never gating)."""
    base = daily.agg(
        F.avg(
            ((F.col(mean_col) < lo) | (F.col(mean_col) > hi)).cast("double")
        ).alias("pv"),
        F.avg((F.col(n_col) == 1).cast("double")).alias("ps"),
    )
    viol = (
        "range_violation_pct",
        F.when(F.col("pv") * 100 > viol_pct_max, "CRITICAL").otherwise("OK"),
        F.col("pv") * 100,
        viol_pct_max,
    )
    single = ("single_sample_days_pct", F.lit("INFO"), F.col("ps") * 100, 0.0)
    return _rows(base, viol, single)


def audit_cross_layer(
    events: DataFrame,
    daily: DataFrame,
    unified: DataFrame,
    ts_col: str = "ts",
    mean_col: str = "value_mean",
) -> DataFrame:
    """Cross-layer consistency (ref etl_audit.py:482-517: cache ->
    daily_cardio.csv -> features_daily_unified.csv day-count checks):

    - events -> daily: distinct event days must equal daily rows exactly
      (an aggregation that drops or fabricates days is CRITICAL, :485-490);
    - daily -> unified: the unified (date-spine) layer losing days is a
      WARNING (:493-496); spine-filled gap days are the non-negative metric;
    - unified coverage: % of unified days carrying data — the reference
      logs this (:505-509); emitted as an INFO row.

    Three single-row aggregates, unioned onto one partition and merged by
    one more aggregate — scalar frames, no join and no data movement
    beyond the three scans (daily/unified are daily-grain)."""
    e_days = events.agg(
        F.countDistinct(F.to_date(F.col(ts_col))).alias("_e")
    )
    d_days = daily.agg(F.count(F.lit(1)).alias("_d"))
    u_days = unified.agg(
        F.count(F.lit(1)).alias("_u"),
        F.sum(F.col(mean_col).isNotNull().cast("bigint")).alias("_u_data"),
    )
    scalars = e_days.unionByName(d_days, allowMissingColumns=True).unionByName(
        u_days, allowMissingColumns=True
    )
    base = scalars.coalesce(1).agg(*[F.max(c).alias(c) for c in scalars.columns])
    ed = (
        "xlayer_events_vs_daily_days",
        F.when(F.col("_e") != F.col("_d"), "CRITICAL").otherwise("OK"),
        F.abs(F.col("_e") - F.col("_d")).cast("double"),
        0.0,
    )
    du = (
        "xlayer_daily_vs_unified_days",
        F.when(F.col("_u") < F.col("_d"), "WARNING").otherwise("OK"),
        (F.col("_u") - F.col("_d")).cast("double"),
        0.0,
    )
    cov = (
        "xlayer_unified_coverage_pct",
        F.lit("INFO"),
        F.col("_u_data") * 100.0 / F.col("_u"),
        0.0,
    )
    return _rows(base, ed, du, cov)


def reaggregation_consistency(
    events: DataFrame,
    daily: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    date_col: str = "date",
    mean_col: str = "value_mean",
    count_col: str = "n_events",
    tol: float = 1e-9,
) -> DataFrame:
    """Golden re-aggregation QC (ref hr_daily_aggregation_consistency_check
    .py; README.md:227-252: reload events, re-aggregate, diff under
    tolerance — the reference reports max diff 2.8e-14). Returns per-day
    diffs with a boolean `consistent`; an empty `filter(~consistent)` is
    the pass condition."""
    re_agg = events.groupBy(F.to_date(ts_col).alias(date_col)).agg(
        F.avg(value_col).alias("_re_mean"),
        F.count(value_col).alias("_re_n"),
    )
    j = daily.join(re_agg, date_col, "full_outer")
    mean_diff = F.abs(F.col(mean_col) - F.col("_re_mean"))
    n_diff = F.abs(F.col(count_col) - F.col("_re_n"))
    # a date present on only ONE side (fabricated or missing day) must read
    # as inconsistent, not null-propagate through the comparison
    consistent = F.coalesce(
        (mean_diff <= tol) & (n_diff == 0), F.lit(False)
    )
    return j.select(
        date_col,
        F.round(mean_diff, 12).alias("mean_abs_diff"),
        n_diff.alias("count_abs_diff"),
        consistent.alias("consistent"),
    )


def audit_hourly_frame(
    events: DataFrame,
    ts_col: str = "ts",
    hour_cov_min_pct: float = 100.0,
    empty_slot_pct_max: float = 25.0,
) -> DataFrame:
    """Hourly-grain audit (ref src/etl/sleep_hourly_audit.py:1-889, the
    reference's hour-level drill-down under the same severity model):

    - hour_coverage_pct: % of the 24 hour-of-day buckets observed at all
      over the span — a signal stuck to office hours is a WARNING
      (ref hourly-coverage histogram);
    - empty_hour_slots_pct: % of (day, hour) slots in the observed span
      with zero events — slot-level sparsity the daily span check cannot
      see (WARNING past threshold);
    - midnight_wrap_imbalance_pct: |hour-23 count − hour-0 count| relative
      imbalance — a midnight-attribution bug (sessions wrapping the day
      boundary dropped or double-counted) skews these twins; INFO row
      (ref midnight-wrap consistency checks).

    One aggregate over the events scan to the (day, hour) slot counts, on
    one partition (at most 24 rows a day), and one global aggregate of
    those with no exchange; all derived rows are scalar.
    """
    slots = (
        events.groupBy(F.to_date(ts_col).alias("d"), F.hour(ts_col).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .coalesce(1)
    )
    # slots are distinct (day, hour) pairs, so distinct counts become set
    # sizes and row counts: no Expand, so no exchange on one partition
    d, h, n = F.col("d"), F.col("h"), F.col("n")
    base = slots.agg(
        F.size(F.collect_set(h)).alias("h24"),
        F.count(F.when(d.isNotNull() & h.isNotNull(), n)).alias("slots"),
        F.size(F.collect_set(d)).alias("ndays"),
        F.sum((h == 23).cast("bigint") * n).alias("c23"),
        F.sum((h == 0).cast("bigint") * n).alias("c0"),
    )
    cov_pct = F.col("h24") * 100.0 / 24
    cov = (
        "hour_coverage_pct",
        F.when(cov_pct < hour_cov_min_pct, "WARNING").otherwise("OK"),
        cov_pct,
        hour_cov_min_pct,
    )
    empty_pct = (
        (F.col("ndays") * 24 - F.col("slots")) * 100.0 / (F.col("ndays") * 24)
    )
    empty = (
        "empty_hour_slots_pct",
        F.when(empty_pct > empty_slot_pct_max, "WARNING").otherwise("OK"),
        empty_pct,
        empty_slot_pct_max,
    )
    wrap = (
        "midnight_wrap_imbalance_pct",
        F.lit("INFO"),
        F.abs(F.col("c23") - F.col("c0"))
        * 100.0
        / F.greatest(F.col("c23") + F.col("c0"), F.lit(1)),
        0.0,
    )
    return _rows(base, cov, empty, wrap)


def audit_exit_code(report: DataFrame) -> int:
    """Severity -> process exit code, the reference's CI gate
    (ref etl_audit.py:1513-1741: any CRITICAL -> 2, else any WARNING -> 1,
    else 0). The report frame is check-grain (dozens of rows), so the
    reduction is one tiny aggregate — the only driver-side value is the
    single int a scheduler actually needs."""
    row = report.agg(
        F.max(
            F.when(F.col("severity") == "CRITICAL", 2)
            .when(F.col("severity") == "WARNING", 1)
            .otherwise(0)
        ).alias("code")
    ).first()
    return int(row["code"] or 0)


def sketch_drift_rows(
    psi: DataFrame,
    key_col: str,
    check_prefix: str = "sketch_drift_psi",
    warn_psi: float = 0.10,
    crit_psi: float = 0.25,
) -> DataFrame:
    """Fold sketch-level drift measurements (sketches.qhist_psi /
    embedding_cell_drift output: one row per group with a ``psi``
    column) into the audit report's severity model (r14 verdict #7), so
    distribution monitoring composes with the reference's QC exit-code
    contract (ref etl_audit.py:1513-1741): PSI uses the standard
    population-stability bands — < 0.10 stable (OK), 0.10-0.25 moderate
    shift (WARNING), > 0.25 significant shift (CRITICAL). One audit row
    per monitored group; ``audit_exit_code`` then folds them with every
    other check, making sketch drift a CI gate rather than a dashboard
    curiosity. The input frame is sketch-grain (groups x buckets already
    reduced to groups), so this is a projection over a handful of rows
    no matter the corpus size behind the sketches."""
    return psi.select(
        F.concat(
            F.lit(check_prefix + ":"), F.col(key_col).cast("string")
        ).alias("check_name"),
        F.when(F.col("psi") > crit_psi, "CRITICAL")
        .when(F.col("psi") > warn_psi, "WARNING")
        .otherwise("OK")
        .alias("severity"),
        F.round(F.col("psi"), 6).alias("metric"),
        F.lit(float(warn_psi)).alias("threshold"),
    )


def benford_digit_audit(
    df: DataFrame, value_col: str, digits_scale: int = 2
) -> DataFrame:
    """Benford first-digit audit of a money-scale column — the classic
    fabrication / synthetic-data detector next to the constancy checks
    above: naturally-grown magnitudes follow P(d) = log10(1 + 1/d),
    while fabricated, truncated, or template-generated values flatten
    or spike the curve. One row per leading digit 1-9 with observed vs
    expected frequency and the chi-square contribution; the total
    chi-square is the sum over the nine rows (reader-side or one more
    agg).

    Engine-exactness: the value is cast to DECIMAL(18, digits_scale)
    FIRST and the digit taken from the decimal's string form —
    double->string rendering differs between engines (scientific
    notation thresholds), decimal->string does not. Counts are exact
    ints; the only transcendental (log10) is evaluated on nine
    constants. One scan, one 9-group aggregate: audit cost is scan
    cost at any corpus size.
    """
    # try_cast: ANSI mode would ERROR the whole audit on one value past
    # 16 integer digits — an out-of-domain outlier is excluded (null ->
    # empty digit -> filtered), not fatal. DuckDB TRY_CAST mirrors it.
    dec = F.col(value_col).try_cast(f"decimal(18,{digits_scale})")
    digit = F.regexp_extract(dec.cast("string"), "[1-9]", 0)
    counts = (
        df.filter(F.col(value_col) > 0)
        .select(digit.alias("digit"))
        .filter(F.col("digit") != "")
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("digit").cast("int").alias("digit"), "n")
    )
    # constant 1-9 spine: a digit with ZERO observations must still emit
    # its chi-square term (total * exp_d) — dropping it understates chi2
    # precisely on the most anomalous (fabricated/template) data the
    # audit exists to flag.
    spine = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    full = spine.join(counts, "digit", "left").select(
        "digit", F.coalesce("n", F.lit(0).cast("long")).alias("n")
    )
    total = full.agg(F.sum("n").alias("_total"))
    exp = (
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    )
    obs = F.col("n") / F.col("_total")
    return (
        full.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(obs, 6).alias("obs_freq"),
            F.round(exp, 6).alias("exp_freq"),
            F.round(
                F.col("_total") * (obs - exp) * (obs - exp) / exp, 6
            ).alias("chi2_term"),
        )
    )
