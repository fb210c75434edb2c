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


def _rows(frame: DataFrame, *checks: tuple) -> DataFrame:
    """One report row per ``(check, severity, metric, threshold)``, whose
    severity and metric are aggregate expressions over ``frame``: every
    check comes from ONE global aggregate of it. Per-check aggregates or
    union branches would each get a column-pruned copy of ``frame``, and
    each copy would rerun the aggregate that built it."""
    rows = F.array(
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
    return frame.agg(rows.alias("_rows")).select(F.inline("_rows"))


def _over(metric, limit, severity: str = "WARNING"):
    return F.when(metric > limit, severity).otherwise("OK")


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
    return _rows(
        daily,
        *_daily_frame_checks(
            date_col, mean_col, min_col, std_col, fabrication_pct_max, missing_pct_max
        ),
    )


def _daily_frame_checks(
    date_col, mean_col, min_col, std_col, fabrication_pct_max=10.0, missing_pct_max=5.0
):
    n_rows, n_dates = F.count(F.lit(1)), F.countDistinct(date_col)
    span = F.datediff(F.max(date_col), F.min(date_col)) + 1
    missing = (span - n_dates) * 100.0 / span
    min_eq_mean = F.avg((F.col(min_col) == F.col(mean_col)).cast("double")) * 100
    zero_std = F.avg((F.col(std_col) == 0).cast("double")) * 100
    return [
        (
            "duplicate_dates",
            _over(n_rows, n_dates, "CRITICAL"),
            (n_rows - n_dates).cast("double"),
            0.0,
        ),
        ("span_missing_pct", _over(missing, missing_pct_max), missing, missing_pct_max),
        (
            "fabrication_min_eq_mean_pct",
            _over(min_eq_mean, fabrication_pct_max),
            min_eq_mean,
            fabrication_pct_max,
        ),
        (
            "fabrication_zero_std_pct",
            _over(zero_std, fabrication_pct_max),
            zero_std,
            fabrication_pct_max,
        ),
    ]


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
    return _rows(daily, *_value_range_checks(mean_col, n_col, lo, hi, viol_pct_max))


def _value_range_checks(mean_col, n_col, lo=30.0, hi=220.0, viol_pct_max=10.0):
    mean = F.col(mean_col)
    viol = F.avg(((mean < lo) | (mean > hi)).cast("double")) * 100
    single = F.avg((F.col(n_col) == 1).cast("double")) * 100
    return [
        ("range_violation_pct", _over(viol, viol_pct_max, "CRITICAL"), viol, viol_pct_max),
        ("single_sample_days_pct", F.lit("INFO"), single, 0.0),
    ]


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
    return _rows(
        scalars.coalesce(1),
        *_cross_layer_checks(*[F.max(c) for c in ("_e", "_d", "_u", "_u_data")]),
    )


def _cross_layer_checks(e_days, d_days, u_days, u_data):
    return [
        (
            "xlayer_events_vs_daily_days",
            F.when(e_days != d_days, "CRITICAL").otherwise("OK"),
            F.abs(e_days - d_days).cast("double"),
            0.0,
        ),
        (
            "xlayer_daily_vs_unified_days",
            F.when(u_days < d_days, "WARNING").otherwise("OK"),
            (u_days - d_days).cast("double"),
            0.0,
        ),
        ("xlayer_unified_coverage_pct", F.lit("INFO"), u_data * 100.0 / u_days, 0.0),
    ]


def audit_daily_report(daily: DataFrame) -> DataFrame:
    """The rows of ``audit_daily_frame``, ``audit_value_ranges`` and
    ``audit_cross_layer`` (default columns and thresholds) for a daily
    frame with one row per date, aggregated from events, in one aggregate
    of it. The frame's dates are the event days, and its date spine
    (every day from the first date to the last, with the mean of its
    date) is the unified layer."""
    date, mean = F.col("date"), F.col("value_mean")
    xlayer = _cross_layer_checks(
        F.countDistinct(date),
        F.count(F.lit(1)),
        F.datediff(F.max(date), F.min(date)) + 1,
        F.count(F.when(date.isNotNull() & mean.isNotNull(), 1)),
    )
    return _rows(
        daily,
        *_daily_frame_checks("date", "value_mean", "value_min", "value_std"),
        *_value_range_checks("value_mean", "n_events"),
        *xlayer,
    )


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
    n_slots = F.count(F.when(d.isNotNull() & h.isNotNull(), n))
    n_days = F.size(F.collect_set(d))
    c23, c0 = (F.sum((h == hour).cast("bigint") * n) for hour in (23, 0))
    cov_pct = F.size(F.collect_set(h)) * 100.0 / 24
    empty_pct = (n_days * 24 - n_slots) * 100.0 / (n_days * 24)
    return _rows(
        slots,
        (
            "hour_coverage_pct",
            F.when(cov_pct < hour_cov_min_pct, "WARNING").otherwise("OK"),
            cov_pct,
            hour_cov_min_pct,
        ),
        (
            "empty_hour_slots_pct",
            _over(empty_pct, empty_slot_pct_max),
            empty_pct,
            empty_slot_pct_max,
        ),
        (
            "midnight_wrap_imbalance_pct",
            F.lit("INFO"),
            F.abs(c23 - c0) * 100.0 / F.greatest(c23 + c0, F.lit(1)),
            0.0,
        ),
    )


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
