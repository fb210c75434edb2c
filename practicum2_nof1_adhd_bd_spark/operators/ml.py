"""Temporal-CV classification — SURVEY.md §7 step 7 (ML tail).

The reference trains sklearn LogisticRegression(class_weight='balanced',
seed 42) per temporal fold and aggregates F1/balanced-accuracy across folds
(ref scripts/run_full_pipeline.py:1143-1374; src/etl/ml7_analysis.py:148-235).
Here each fold's fit is Spark MLlib (distributed lbfgs); the loop over folds
is driver-side but touches only fold metadata — all data movement stays in
executors. Folds with a single training class are skipped, matching the
reference's class-coverage gate.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import folds as folds_mod
from . import metrics as metrics_mod  # noqa: F401  (distributed variant of the same metrics)


def _fold_metrics(
    pred: DataFrame,
) -> tuple[float | None, float | None, float | None, float | None]:
    """(accuracy, macro_f1, balanced_accuracy, cohen_kappa) for a
    y_true/y_pred frame — the reference's per-fold metric set
    (ref scripts/run_full_pipeline.py:1143-1374 reports F1/BA/kappa).

    One distributed groupBy reduces the predictions to the confusion
    matrix — at most n_classes^2 rows at ANY input scale — and only that
    tiny table crosses the driver; precision/recall/F1 fold out of it in
    plain Python (same null semantics as metrics.per_class_report: a class
    never predicted / never occurring contributes no F1 term). This keeps
    per-fold metric cost at one shuffle instead of per_class_report's
    multi-join plan, which matters when a CV loop evaluates
    models x folds."""
    cm = (
        pred.filter(F.col("y_true").isNotNull() & F.col("y_pred").isNotNull())
        .groupBy("y_true", "y_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not cm:
        return None, None, None, None
    tp: dict = {}
    n_true: dict = {}
    n_pred: dict = {}
    total = correct = 0
    for r in cm:
        t, p, n = r["y_true"], r["y_pred"], r["n"]
        n_true[t] = n_true.get(t, 0) + n
        n_pred[p] = n_pred.get(p, 0) + n
        total += n
        if t == p:
            tp[t] = tp.get(t, 0) + n
            correct += n
    f1s = []
    for c in set(n_true) | set(n_pred):
        prec = round(tp.get(c, 0) / n_pred[c], 6) if n_pred.get(c) else None
        rec = round(tp.get(c, 0) / n_true[c], 6) if n_true.get(c) else None
        if prec is not None and rec is not None and (prec + rec) > 0:
            f1s.append(round(2 * prec * rec / (prec + rec), 6))
    macro_f1 = round(sum(f1s) / len(f1s), 6) if f1s else None
    acc = round(correct / total, 6) if total else None
    # balanced accuracy = mean per-class recall over classes present in
    # y_true (sklearn.balanced_accuracy_score semantics)
    recalls = [tp.get(c, 0) / n for c, n in n_true.items()]
    bal_acc = round(sum(recalls) / len(recalls), 6) if recalls else None
    # Cohen's kappa: agreement beyond chance from the same confusion matrix
    pe = sum(n_true.get(c, 0) * n_pred.get(c, 0) for c in n_pred) / (total * total)
    po = correct / total
    kappa = round((po - pe) / (1 - pe), 6) if pe < 1 else None
    return acc, macro_f1, bal_acc, kappa


def logreg_fold_cv(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    date_col: str = "date",
    train_days: int = 7,
    gap_days: int = 0,
    val_days: int = 3,
    max_iter: int = 50,
    reg_param: float = 0.01,
) -> DataFrame:
    """Train LogisticRegression per rolling-origin fold; report per-fold
    val-set accuracy and macro-F1. Labels may be any ints (e.g. -1/0/+1);
    they are shifted to a 0-based index for MLlib and shifted back for
    metric grouping. Deterministic: lbfgs on fixed data, no sampling."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    spark = df.sparkSession
    folded = folds_mod.day_folds(df, date_col, train_days, gap_days, val_days)
    # The fold table is daily-grain — it scales with DAYS, not events, so
    # it is thousands of rows at any corpus SF. Collapse to a few
    # partitions before caching: every MLlib iteration otherwise launches
    # a full shuffle-width stage over a near-empty frame.
    folded = folded.coalesce(4).withColumn(
        "label_idx", (F.col(label_col) - F.lit(-1)).cast("double")
    ).cache()

    fold_ids = [
        r["fold_id"]
        for r in folded.select("fold_id").distinct().orderBy("fold_id").collect()
    ]
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="_feat_raw")
    scaler = StandardScaler(
        inputCol="_feat_raw", outputCol="_feat", withMean=True, withStd=True
    )

    def run_fold(fid):
        train = folded.filter(
            (F.col("fold_id") == fid) & (F.col("split") == "train")
        )
        val = folded.filter((F.col("fold_id") == fid) & (F.col("split") == "val"))
        n_train, n_val = train.count(), val.count()
        n_classes = train.select("label_idx").distinct().count()
        if n_train < 2 or n_val < 1 or n_classes < 2:
            return (int(fid), n_train, n_val, 0, None, None, None, None)
        scaler_model = scaler.fit(assembler.transform(train))
        tr_assembled = scaler_model.transform(assembler.transform(train))
        model = LogisticRegression(
            featuresCol="_feat",
            labelCol="label_idx",
            maxIter=max_iter,
            regParam=reg_param,
            family="multinomial",
        ).fit(tr_assembled)
        va_assembled = scaler_model.transform(assembler.transform(val))
        pred = model.transform(va_assembled).select(
            (F.col("label_idx") + F.lit(-1)).cast("int").alias("y_true"),
            (F.col("prediction") + F.lit(-1)).cast("int").alias("y_pred"),
        )
        acc, macro_f1, bal_acc, kappa = _fold_metrics(pred)
        return (int(fid), n_train, n_val, 1, acc, macro_f1, bal_acc, kappa)

    # folds are independent: submit them as concurrent Spark jobs (the
    # scheduler interleaves their stages across the executor pool; the
    # reference trains folds strictly sequentially)
    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(max_workers=min(4, max(1, len(fold_ids)))) as pool:
            results = list(pool.map(run_fold, fold_ids))
    finally:
        folded.unpersist()
    return spark.createDataFrame(
        results,
        "fold_id int, n_train bigint, n_val bigint, usable int, "
        "accuracy double, macro_f1 double, bal_acc double, kappa double",
    )


def _without_summary(model):
    """Drop a fitted model's training summary before ``transform``.

    The prediction UDFs capture the model, and a binary
    LogisticRegression or LinearSVC summary holds the training frame's
    SparkSession. Once that session has run a ``pyspark.sql.Observation``,
    the session carries an ObservationManager that cannot be serialized,
    so every task of the transform fails. ``copy()`` is not enough:
    LogisticRegressionModel's copy keeps the summary."""
    if getattr(model, "hasSummary", False):
        model._java_obj.setSummary(SparkContext._jvm.scala.Option.empty())
    return model


def _balanced_weights(train: DataFrame, label_col: str, w_col: str = "_w") -> DataFrame:
    """sklearn class_weight='balanced': w(c) = n / (k * n_c), attached as a
    weight column via a broadcast join of the tiny per-class count frame."""
    counts = train.groupBy(label_col).agg(F.count(F.lit(1)).alias("_n_c"))
    k = counts.agg(
        F.count(F.lit(1)).alias("_k"), F.sum("_n_c").alias("_n")
    )
    weighted = train.join(F.broadcast(counts), label_col).crossJoin(
        F.broadcast(k)
    )
    return weighted.withColumn(
        w_col, F.col("_n") / (F.col("_k") * F.col("_n_c"))
    ).drop("_n_c", "_k", "_n")


def _knn_predict(
    tr: DataFrame, va: DataFrame, fc: str, lc: str, k: int = 5
) -> DataFrame:
    """Distributed KNN classification as pure DataFrame algebra: broadcast
    the (small) training fold, exact euclidean top-k per validation row,
    majority vote with sklearn's tie-break (smallest label wins).

    At 100 TB you'd LSH/IVF-block the candidate set first (see
    operators/similarity.py) — per temporal fold the train side is tiny
    (days of daily rows), so a broadcast is the right plan here.
    """
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql.window import Window

    t = tr.select(
        F.col(lc).alias("_t_lab"), vector_to_array(F.col(fc)).alias("_t_v")
    )
    v = va.select(
        F.monotonically_increasing_id().alias("_q_id"),
        F.col(lc).alias("_y_true"),
        vector_to_array(F.col(fc)).alias("_q_v"),
    )
    d2 = F.aggregate(
        F.zip_with("_q_v", "_t_v", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = v.join(F.broadcast(t)).withColumn("_d2", d2)
    w_near = Window.partitionBy("_q_id").orderBy("_d2", "_t_lab")
    votes = (
        pairs.withColumn("_rk", F.row_number().over(w_near))
        .filter(F.col("_rk") <= k)
        .groupBy("_q_id", "_y_true", "_t_lab")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w_vote = Window.partitionBy("_q_id").orderBy(F.desc("_n"), F.asc("_t_lab"))
    return (
        votes.withColumn("_vr", F.row_number().over(w_vote))
        .filter(F.col("_vr") == 1)
        .select("_y_true", F.col("_t_lab").alias("_y_pred"))
    )


def model_zoo_fold_cv(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    date_col: str = "date",
    train_days: int = 7,
    gap_days: int = 0,
    val_days: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Extended model comparison per temporal fold — the reference's ML6
    extended zoo (ref src/etl/ml6_extended.py:78-129: LogisticRegression
    class_weight=balanced+scaled, RandomForest 100 trees depth 10 balanced,
    GradientBoosting 100/depth5/lr0.1, SVM-linear scaled, GaussianNB;
    RF macro-F1 0.7005 in RUN_REPORT_EXTENDED.md:40) re-expressed on MLlib
    estimators:

    - logreg: LogisticRegression multinomial, standardized features,
      balanced sample weights.
    - random_forest: RandomForestClassifier(numTrees=100, maxDepth=10),
      raw features, balanced weights.
    - gradient_boosted: GBTClassifier(maxIter=100, maxDepth=5,
      stepSize=0.1) — MLlib GBTs are binary, so this is the reference's
      binary baseline (episode vs not: label != 0), mirroring
      results/metrics/.../baseline_comparison_binary.csv.
    - svm_linear: LinearSVC, standardized features, balanced weights,
      binary like the GBT row.
    - gaussian_nb: NaiveBayes(modelType='gaussian'), raw features.

    - knn: no MLlib estimator exists, so the lazy classifier is pure
      DataFrame algebra (`_knn_predict`): broadcast train fold, exact
      euclidean top-5, majority vote — standardized features like the
      reference.

    Output: one row per (model, fold) with accuracy, macro-F1, balanced
    accuracy, and Cohen's kappa. Folds are independent and submitted as
    concurrent Spark jobs; each model's fit is a distributed MLlib job, so
    nothing but fold/metric scalars crosses the driver.
    """
    from pyspark.ml.classification import (
        GBTClassifier,
        LinearSVC,
        LogisticRegression,
        NaiveBayes,
        RandomForestClassifier,
    )
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    spark = df.sparkSession
    folded = folds_mod.day_folds(df, date_col, train_days, gap_days, val_days)
    # daily-grain fold table (see logreg_fold_cv note): a few partitions,
    # or the 100-iteration GBT/RF fits pay a shuffle-width stage per
    # iteration on a near-empty frame.
    folded = folded.coalesce(4).withColumn(
        "label_idx", (F.col(label_col) - F.lit(-1)).cast("double")
    ).withColumn(
        "label_bin", (F.col(label_col) != 0).cast("double")
    ).cache()
    fold_ids = [
        r["fold_id"]
        for r in folded.select("fold_id").distinct().orderBy("fold_id").collect()
    ]
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="_feat_raw")
    scaler = StandardScaler(
        inputCol="_feat_raw", outputCol="_feat", withMean=True, withStd=True
    )

    # (name, estimator factory, scaled?, weighted?, binary?)
    zoo = [
        ("logreg", lambda fc, lc, w: LogisticRegression(
            featuresCol=fc, labelCol=lc, weightCol=w, maxIter=100,
            regParam=0.0, family="multinomial"), True, True, False),
        ("random_forest", lambda fc, lc, w: RandomForestClassifier(
            featuresCol=fc, labelCol=lc, weightCol=w, numTrees=100,
            maxDepth=10, seed=seed), False, True, False),
        ("gradient_boosted", lambda fc, lc, w: GBTClassifier(
            featuresCol=fc, labelCol=lc, maxIter=100, maxDepth=5,
            stepSize=0.1, seed=seed), False, False, True),
        ("svm_linear", lambda fc, lc, w: LinearSVC(
            featuresCol=fc, labelCol=lc, weightCol=w, maxIter=100), True,
            True, True),
        ("gaussian_nb", lambda fc, lc, w: NaiveBayes(
            featuresCol=fc, labelCol=lc, modelType="gaussian"), False,
            False, False),
        # KNN has no MLlib estimator; _knn_predict is the lazy classifier
        # as DataFrame algebra (ref ml6_extended.py zoo: KNN k=5, scaled)
        ("knn", None, True, False, False),
    ]

    def run_fold(fid):
        out = []
        train = folded.filter(
            (F.col("fold_id") == fid) & (F.col("split") == "train")
        )
        val = folded.filter((F.col("fold_id") == fid) & (F.col("split") == "val"))
        # one tiny collect gives n_train and both class counts
        lab_rows = train.groupBy("label_idx", "label_bin").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
        n_train = sum(r["n"] for r in lab_rows)
        n_cls = {
            "label_idx": len({r["label_idx"] for r in lab_rows}),
            "label_bin": len({r["label_bin"] for r in lab_rows}),
        }
        n_val = val.count()
        scaler_model = None
        for name, make, scaled, weighted, binary in zoo:
            lc = "label_bin" if binary else "label_idx"
            shift = 0 if binary else -1
            if n_train < 2 or n_val < 1 or n_cls[lc] < 2:
                out.append(
                    (name, int(fid), n_train, n_val, 0, None, None, None, None)
                )
                continue
            tr = _balanced_weights(train, lc) if weighted else train.withColumn(
                "_w", F.lit(1.0)
            )
            tr = assembler.transform(tr)
            va = assembler.transform(val)
            if scaled:
                if scaler_model is None:
                    scaler_model = scaler.fit(assembler.transform(train))
                tr, va = scaler_model.transform(tr), scaler_model.transform(va)
            fc = "_feat" if scaled else "_feat_raw"
            if name == "knn":
                pred = _knn_predict(tr, va, fc, lc, k=5).select(
                    (F.col("_y_true") + F.lit(shift)).cast("int").alias("y_true"),
                    (F.col("_y_pred") + F.lit(shift)).cast("int").alias("y_pred"),
                )
            else:
                model = _without_summary(make(fc, lc, "_w").fit(tr))
                pred = model.transform(va).select(
                    (F.col(lc) + F.lit(shift)).cast("int").alias("y_true"),
                    (F.col("prediction") + F.lit(shift)).cast("int").alias("y_pred"),
                )
            acc, macro_f1, bal_acc, kappa = _fold_metrics(pred)
            out.append(
                (name, int(fid), n_train, n_val, 1, acc, macro_f1, bal_acc, kappa)
            )
        return out

    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(max_workers=min(4, max(1, len(fold_ids)))) as pool:
            rows = [r for fold in pool.map(run_fold, fold_ids) for r in fold]
    finally:
        folded.unpersist()
    return spark.createDataFrame(
        rows,
        "model string, fold_id int, n_train bigint, n_val bigint, usable int, "
        "accuracy double, macro_f1 double, bal_acc double, kappa double",
    )


def model_selection_grid(
    df: DataFrame,
    feature_sets: dict[str, list[str]],
    label_col: str,
    date_col: str = "date",
    train_days: int = 7,
    gap_days: int = 0,
    val_days: int = 3,
    max_iter: int = 100,
) -> DataFrame:
    """Stage-5 ablation grid — the reference's experiment suite
    (ref src/etl/experiment_suite.py:112-222: FEATURE_SETS FS-A..FS-D x
    {binary, 3class} targets, LogisticRegression(class_weight='balanced',
    random_state=42) per temporal fold, aggregated to mean/std macro-F1,
    mean balanced accuracy, mean kappa) re-expressed on the engine's fold
    machinery, plus the deterministic model-selection rule
    (ref :72-105: max mean F1, tie -> max kappa, tie -> fewer features)
    emitted as a ``selected`` flag instead of model_selection.json.

    The fold table is built and cached ONCE (daily-grain — scales with
    days, not events) and shared by every config; each config x fold is an
    independent MLlib lbfgs fit submitted concurrently, so the grid costs
    |grid| x folds SMALL fits over one cached frame, and only fold/metric
    scalars cross the driver. Deterministic: lbfgs on fixed data, no
    sampling; folds where a kappa is undefined (chance agreement 1)
    contribute 0, mirroring sklearn's zero_division handling.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    spark = df.sparkSession
    folded = folds_mod.day_folds(df, date_col, train_days, gap_days, val_days)
    folded = (
        folded.coalesce(4)
        .withColumn("label_idx", (F.col(label_col) - F.lit(-1)).cast("double"))
        .withColumn("label_bin", (F.col(label_col) != 0).cast("double"))
        .cache()
    )
    fold_ids = [
        r["fold_id"]
        for r in folded.select("fold_id").distinct().orderBy("fold_id").collect()
    ]
    targets = {"binary": "label_bin", "3class": "label_idx"}
    configs = [
        (fs_id, cols, t_name, t_col)
        for fs_id, cols in feature_sets.items()
        for t_name, t_col in targets.items()
    ]

    def run_config(cfg):
        fs_id, cols, t_name, t_col = cfg
        assembler = VectorAssembler(inputCols=cols, outputCol="_feat_raw")
        scaler = StandardScaler(
            inputCol="_feat_raw", outputCol="_feat", withMean=True, withStd=True
        )
        per_fold = []
        for fid in fold_ids:
            train = folded.filter(
                (F.col("fold_id") == fid) & (F.col("split") == "train")
            )
            val = folded.filter(
                (F.col("fold_id") == fid) & (F.col("split") == "val")
            )
            lab_rows = train.groupBy(t_col).agg(F.count(F.lit(1)).alias("n")).collect()
            n_train = sum(r["n"] for r in lab_rows)
            n_val = val.count()
            # ref gates: >=5 train, >=2 val rows, >=2 train classes (:168-180)
            if n_train < 5 or n_val < 2 or len(lab_rows) < 2:
                continue
            scaler_model = scaler.fit(assembler.transform(train))
            tr = scaler_model.transform(
                assembler.transform(_balanced_weights(train, t_col))
            )
            model = _without_summary(LogisticRegression(
                featuresCol="_feat", labelCol=t_col, weightCol="_w",
                maxIter=max_iter, regParam=0.0, family="auto",
            ).fit(tr))
            va = scaler_model.transform(assembler.transform(val))
            pred = model.transform(va).select(
                F.col(t_col).cast("int").alias("y_true"),
                F.col("prediction").cast("int").alias("y_pred"),
            )
            _, macro_f1, bal_acc, kappa = _fold_metrics(pred)
            if macro_f1 is not None:
                per_fold.append(
                    (macro_f1, bal_acc or 0.0, kappa if kappa is not None else 0.0)
                )
        if not per_fold:
            return (fs_id, t_name, len(cols), 0, None, None, None, None)
        f1s = [p[0] for p in per_fold]
        mean_f1 = sum(f1s) / len(f1s)
        std_f1 = (sum((x - mean_f1) ** 2 for x in f1s) / len(f1s)) ** 0.5
        return (
            fs_id, t_name, len(cols), len(per_fold),
            round(mean_f1, 6), round(std_f1, 6),
            round(sum(p[1] for p in per_fold) / len(per_fold), 6),
            round(sum(p[2] for p in per_fold) / len(per_fold), 6),
        )

    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(max_workers=min(4, max(1, len(configs)))) as pool:
            rows = list(pool.map(run_config, configs))
    finally:
        folded.unpersist()
    usable = [r for r in rows if r[3] > 0]
    best = min(
        usable, key=lambda r: (-(r[4] or 0.0), -(r[7] or 0.0), r[2], r[0], r[1])
    ) if usable else None
    rows = [
        r + (1 if best is not None and r[:2] == best[:2] else 0,) for r in rows
    ]
    return spark.createDataFrame(
        rows,
        "feature_set string, target string, n_features int, n_folds_used int, "
        "mean_f1 double, std_f1 double, mean_bal_acc double, mean_kappa double, "
        "selected int",
    )


def feature_attribution(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
) -> DataFrame:
    """Model-FREE feature-attribution ranking — the |corr(x,y)|*sigma_y
    statistic (for a standardized single-feature linear model, mean
    |SHAP| = |coef|*sigma_x = |corr(x,y)|*sigma_y; ref
    src/etl/ml7_analysis.py:238-320 ranks |SHAP|).

    Since r16 this is the documented FALLBACK for designs where
    ``linear_shap_attribution`` (the exact multi-feature LinearExplainer
    closed form) cannot fit — singular/degenerate normal equations. Pure
    aggregates (one scan computes every corr + sigma_y), deterministic
    and SQL-expressible. Output: feature, attribution, rank.
    """
    from pyspark.sql.window import Window

    y = F.col(label_col).cast("double")
    agg = df.agg(
        *[F.corr(F.col(c), y).alias(f"_c_{c}") for c in feature_cols],
        F.stddev_samp(y).alias("_sy"),
    )
    stack_args = ", ".join(f"'{c}', `_c_{c}`" for c in feature_cols)
    unpiv = agg.select(
        F.expr(
            f"stack({len(feature_cols)}, {stack_args}) AS (feature, _c)"
        ),
        "_sy",
    )
    att = unpiv.select(
        "feature",
        F.round(F.abs(F.col("_c")) * F.col("_sy"), 6).alias("attribution"),
    )
    w = Window.orderBy(F.desc("attribution"), F.asc("feature"))
    return att.withColumn("rank", F.row_number().over(w).cast("bigint"))


def selection_rule_report(
    folded: DataFrame,
    feature_sets: dict[str, list[str]],
    targets: dict[str, Column],
    round_dp: int = 6,
) -> DataFrame:
    """The reference's deterministic model-selection machinery with the
    MLlib fit swapped for a closed-form score — so the grid shape, the
    per-fold usability gates, and the selection rule itself (ref
    src/etl/experiment_suite.py:72-105 select, :168-180 gates) carry a
    full value-hash oracle, which the lbfgs-backed ``model_selection_grid``
    cannot (its metrics are solver outputs).

    Score proxy: per (config, fold), the mean over the feature set of
    |corr(feature, target)| on the fold's train split (the linear-model
    analog of fit quality — same family as feature_attribution); the
    validation-split twin stands in for the reference's kappa tie-break.
    Gates per fold: >= 5 train rows, >= 2 val rows, >= 2 train classes.
    Selection: max mean train score, tie -> max val score, tie -> fewer
    features, tie -> lexicographic (feature_set, target) — isomorphic to
    the reference's (max F1, tie kappa, tie parsimony) ordering.

    Plan: ONE pass over the daily-grain folded frame per config (8 tiny
    aggregates sharing the cached input); everything downstream is
    constant-size (configs x folds).
    """
    from functools import reduce

    spark = folded.sparkSession
    rows = []
    for fs_id, cols in feature_sets.items():
        for t_name, t_expr in targets.items():
            is_tr = F.col("split") == "train"
            is_va = F.col("split") == "val"

            # corr() under ANSI mode THROWS on a zero-variance side (e.g.
            # a fold whose train target is constant); build it from
            # covar/stddev moments with an explicit >0 gate instead —
            # identical formula on the DuckDB side, so parity by
            # construction
            moment_aggs = []
            for tag, side in (("tr", is_tr), ("va", is_va)):
                moment_aggs.append(
                    F.stddev_samp(F.when(side, t_expr)).alias(f"_st_{tag}")
                )
                for c in cols:
                    moment_aggs.append(
                        F.covar_samp(
                            F.when(side, F.col(c)), F.when(side, t_expr)
                        ).alias(f"_cv_{tag}_{c}")
                    )
                    moment_aggs.append(
                        F.stddev_samp(F.when(side, F.col(c))).alias(
                            f"_sx_{tag}_{c}"
                        )
                    )

            def _score(tag):
                terms = [
                    F.coalesce(
                        F.abs(
                            F.when(
                                (F.col(f"_sx_{tag}_{c}") > 0)
                                & (F.col(f"_st_{tag}") > 0),
                                F.col(f"_cv_{tag}_{c}")
                                / (F.col(f"_sx_{tag}_{c}") * F.col(f"_st_{tag}")),
                            )
                        ),
                        F.lit(0.0),
                    )
                    for c in cols
                ]
                acc = terms[0]
                for t in terms[1:]:
                    acc = acc + t
                return F.round(acc / F.lit(len(cols)), round_dp)

            per_fold = folded.groupBy("fold_id").agg(
                F.sum(is_tr.cast("bigint")).alias("n_tr"),
                F.sum(is_va.cast("bigint")).alias("n_va"),
                F.countDistinct(F.when(is_tr, t_expr)).alias("ncls"),
                *moment_aggs,
            ).select(
                "fold_id", "n_tr", "n_va", "ncls",
                _score("tr").alias("s_tr"),
                _score("va").alias("s_va"),
            )
            usable = per_fold.filter(
                (F.col("n_tr") >= 5) & (F.col("n_va") >= 2) & (F.col("ncls") >= 2)
            )
            rows.append(
                usable.agg(
                    F.lit(fs_id).alias("feature_set"),
                    F.lit(t_name).alias("target"),
                    F.lit(len(cols)).alias("n_features"),
                    F.count(F.lit(1)).alias("n_folds_used"),
                    F.round(F.avg("s_tr"), round_dp).alias("mean_score"),
                    F.round(F.stddev_pop("s_tr"), round_dp).alias("std_score"),
                    F.round(F.avg("s_va"), round_dp).alias("mean_val_score"),
                )
            )
    grid = reduce(DataFrame.unionByName, rows)
    w = Window.orderBy(
        F.desc(F.col("n_folds_used") > 0),
        F.desc(F.coalesce(F.col("mean_score"), F.lit(-1.0))),
        F.desc(F.coalesce(F.col("mean_val_score"), F.lit(-1.0))),
        F.asc("n_features"),
        F.asc("feature_set"),
        F.asc("target"),
    )
    return grid.withColumn(
        "selected",
        (
            (F.row_number().over(w) == 1) & (F.col("n_folds_used") > 0)
        ).cast("int"),
    )


# ---- exact linear SHAP (r15 verdict #6) ----
# Cramer's-rule solution of the 3x3 centered normal equations and the
# closed-form linear SHAP that follows. These templates are shared
# VERBATIM with the DuckDB oracle (registry imports them), so both
# engines parse the same scalar expression tree and evaluate the same
# IEEE operation sequence — the whole attestation rests on that.
SHAP_DET_SQL = (
    "(s11*(s22*s33 - s23*s23) - s12*(s12*s33 - s23*s13)"
    " + s13*(s12*s23 - s22*s13))"
)
SHAP_W_SQL = {
    1: "((c1*(s22*s33 - s23*s23) - s12*(c2*s33 - s23*c3)"
       " + s13*(c2*s23 - s22*c3)) / det)",
    2: "((s11*(c2*s33 - s23*c3) - c1*(s12*s33 - s13*s23)"
       " + s13*(s12*c3 - c2*s13)) / det)",
    3: "((s11*(s22*c3 - c2*s23) - s12*(s12*c3 - c2*s13)"
       " + c1*(s12*s23 - s22*s13)) / det)",
}


def linear_shap_attribution(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    scale: float = 1024.0,
) -> DataFrame:
    """EXACT linear SHAP attribution (ref src/etl/ml7_analysis.py:238-320,
    shap.LinearExplainer over the fold logreg): for a linear model the
    SHAP value of feature j on sample x is closed-form w_j*(x_j - mu_j)
    (mu = background mean, independent-features LinearExplainer), so the
    reference's "mean |SHAP| per feature" summary is pure column algebra
    — no sampling, no explainer library, and a full DuckDB oracle,
    unlike the |corr|*sigma_y surrogate this supersedes
    (feature_attribution, now the documented fallback for when a model
    can't be fit).

    The model here is the least-squares linear probability fit of the
    3-class label — CLOSED-FORM OLS via Cramer's rule on the centered
    3x3 normal equations, so training itself is attestable column
    algebra (logreg_fold_cv's iterative weights stay rows-only by
    nature; for attribution RANKING the linear-model family is what the
    reference's LinearExplainer assumes anyway).

    Engine-exactness: feature sums use integer units (features are
    integer-valued or 6-dp fixed-point, so means are exact ratios of
    BIGINTs); centered values are scaled by 1/1024 — a power of two, so
    the division is float-EXACT — keeping every product far below the
    ~9e3 double->DECIMAL(28,12) cast-divergence hazard; products sum as
    DECIMAL(28,12) (order-invariant); the Cramer scalars run in double
    through expression text shared verbatim with the oracle. Mean |SHAP|
    is scale-invariant (w'_j = w_j*s, z_j = (x_j-mu_j)/s), so the output
    is in ORIGINAL feature units.

    Two frame scans (means, then centered moments broadcast-joined) +
    one 1-row solve — the same shape at any corpus size. The input is
    materialized once (lazy localCheckpoint): callers pass an
    aggregate-grain frame (daily features — bounded rows at any corpus
    size), and without the cut each of the two scans re-runs the
    caller's full upstream aggregation (r16)."""
    assert len(feature_cols) == 3, "Cramer templates are written for 3x3"
    df = df.localCheckpoint(eager=False)
    dec = "decimal(28,12)"
    y = F.col(label_col).cast("double")
    n_and_sums = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        # exact integer-unit sums: features are integer-valued doubles or
        # 6-dp fixed-point, so the e6 recovery is exact
        *[
            F.sum(F.round(F.col(c) * 1e6).cast("long")).alias(f"_sx{j}_e6")
            for j, c in enumerate(feature_cols, 1)
        ],
        F.sum(F.round(y * 1e6).cast("long")).alias("_sy_e6"),
    ).select(
        "n",
        *[
            (F.col(f"_sx{j}_e6") / 1e6 / F.col("n")).alias(f"mu{j}")
            for j in range(1, 4)
        ],
        (F.col("_sy_e6") / 1e6 / F.col("n")).alias("muy"),
    )
    centered = df.crossJoin(F.broadcast(n_and_sums)).select(
        "n",
        *[
            ((F.col(c) - F.col(f"mu{j}")) / scale).alias(f"z{j}")
            for j, c in enumerate(feature_cols, 1)
        ],
        (y - F.col("muy")).alias("zy"),
    )
    mom = centered.groupBy("n").agg(
        *[
            F.sum((F.col(f"z{i}") * F.col(f"z{j}")).cast(dec))
            .cast("double")
            .alias(f"s{i}{j}")
            for i in range(1, 4)
            for j in range(i, 4)
        ],
        *[
            F.sum((F.col(f"z{j}") * F.col("zy")).cast(dec))
            .cast("double")
            .alias(f"c{j}")
            for j in range(1, 4)
        ],
        *[
            F.sum(F.abs(F.col(f"z{j}")).cast(dec))
            .cast("double")
            .alias(f"mad{j}")
            for j in range(1, 4)
        ],
    )
    solved = (
        mom.withColumn("det", F.expr(SHAP_DET_SQL))
        # guard BEFORE any /det is built: ANSI mode makes a zero
        # divisor fatal, not null (degenerate = collinear features)
        .filter(F.col("det") != 0)
        .select(
            "n",
            *[
                F.expr(SHAP_W_SQL[j]).alias(f"w{j}")
                for j in range(1, 4)
            ],
            *[F.col(f"mad{j}") for j in range(1, 4)],
        )
    )
    stack = ", ".join(
        f"'{c}', round(abs(w{j}) * mad{j} / n, 6),"
        f" round(w{j} / {scale!r}, 9)"
        for j, c in enumerate(feature_cols, 1)
    )
    unpiv = solved.select(
        F.expr(
            f"stack(3, {stack}) AS (feature, mean_abs_shap, weight)"
        )
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("mean_abs_shap"), F.asc("feature"))
    return unpiv.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    )
