"""Unit tests — exact and int8 cosine top-k, MLlib fold CV."""

import datetime as dt

from pyspark.sql import functions as F

from practicum2_nof1_adhd_bd_spark.operators import ml, similarity as sim


def _emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0], 0),   # near-dup of 0, same block
        (2, [0.0, 1.0, 0.0], 0),    # orthogonal, same block
        (3, [1.0, 0.05, 0.0], 1),   # near 0 but different block
        (4, [0.0, 0.98, 0.2], 1),
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )


def test_logreg_separable(spark):
    # 30 days, y depends deterministically on x -> near-perfect folds
    d0 = dt.date(2024, 1, 1)
    rows = []
    for i in range(30):
        x = float(i % 3 - 1)  # -1, 0, 1 cycling
        rows.append((d0 + dt.timedelta(days=i), x, x * 2.0, int(x)))
    df = spark.createDataFrame(rows, "date date, f1 double, f2 double, label int")
    out = ml.logreg_fold_cv(
        df, ["f1", "f2"], "label", train_days=7, gap_days=0, val_days=3
    ).collect()
    assert len(out) == 3
    usable = [r for r in out if r["usable"] == 1]
    assert usable, "at least one fold should train"
    assert all(r["accuracy"] == 1.0 for r in usable)


def test_feature_attribution_ranks_correlated_feature_first(spark):
    d0 = dt.date(2024, 1, 1)
    rows = []
    for i in range(30):
        y = float(i % 3 - 1)
        # f1 perfectly correlated with y; f2 pure noise-ish (uncorrelated cycle)
        rows.append((d0 + dt.timedelta(days=i), y * 3.0, float((i * 7) % 5), int(y)))
    df = spark.createDataFrame(rows, "date date, f1 double, f2 double, label int")
    out = ml.feature_attribution(df, ["f1", "f2"], "label").collect()
    by_rank = {r["rank"]: r for r in out}
    assert by_rank[1]["feature"] == "f1"
    assert by_rank[1]["attribution"] > by_rank[2]["attribution"]


def test_model_zoo_shapes_and_determinism(spark):
    d0 = dt.date(2024, 1, 1)
    rows = []
    for i in range(10):  # one fold: 7 train + 3 val
        x = float(i % 3 - 1)
        rows.append((d0 + dt.timedelta(days=i), x, x * 2.0, int(x)))
    df = spark.createDataFrame(rows, "date date, f1 double, f2 double, label int")
    out = ml.model_zoo_fold_cv(
        df, ["f1", "f2"], "label", train_days=7, gap_days=0, val_days=3
    ).collect()
    assert {r["model"] for r in out} == {
        "logreg", "random_forest", "gradient_boosted", "svm_linear",
        "gaussian_nb", "knn",
    }
    assert all(r["n_train"] == 7 and r["n_val"] == 3 for r in out)
    # perfectly separable -> every usable multiclass model should be decent,
    # and the seeded RF must be deterministic
    rf = [r for r in out if r["model"] == "random_forest"][0]
    assert rf["usable"] == 1 and rf["accuracy"] == 1.0
    assert rf["bal_acc"] == 1.0 and rf["kappa"] == 1.0
    # KNN k=5 over 7 train rows (3/2/2 per class): hand-traced votes give
    # exactly one of three val rows right (x=-1; the x=0 and x=1 rows lose
    # the majority to neighboring classes) -> accuracy 1/3, deterministic
    knn = [r for r in out if r["model"] == "knn"][0]
    assert knn["usable"] == 1 and knn["accuracy"] == 0.333333


def test_model_fits_run_after_session_observation(spark):
    """Once a session has used a pyspark.sql.Observation (perfbench does,
    on every op), a fitted model's training summary drags that session's
    ObservationManager into the transform's task closure, which is not
    serializable. The zoo (LinearSVC) and the selection grid (binary
    LogisticRegression, whose copy() keeps the summary) must still run.
    A child session keeps the shared test session free of the
    Observation."""
    from pyspark.sql import Observation

    s = spark.newSession()
    obs = Observation("zoo_guard")
    s.range(3).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert obs.get == {"n": 3}
    d0 = dt.date(2024, 1, 1)
    rows = []
    for i in range(10):
        x = float(i % 3 - 1)
        rows.append((d0 + dt.timedelta(days=i), x, x * 2.0, int(x)))
    df = s.createDataFrame(rows, "date date, f1 double, f2 double, label int")
    out = ml.model_zoo_fold_cv(
        df, ["f1", "f2"], "label", train_days=7, gap_days=0, val_days=3
    ).collect()
    assert len(out) == 6 and all(r["usable"] == 1 for r in out)
    grid = ml.model_selection_grid(
        df, {"FS-A": ["f1", "f2"]}, "label", train_days=5, gap_days=0,
        val_days=2,
    ).collect()
    assert len(grid) == 2 and all(r["n_folds_used"] > 0 for r in grid)


def test_model_selection_grid_shape_and_determinism(spark):
    d0 = dt.date(2024, 1, 1)
    rows = []
    for i in range(30):
        x = float(i % 3 - 1)
        # f1 separates the 3-class target linearly; f2=|x| separates the
        # binary (x != 0) target, which is NOT linear in f1 alone
        rows.append((d0 + dt.timedelta(days=i), x, abs(x), float(i % 5), int(x)))
    df = spark.createDataFrame(
        rows, "date date, f1 double, f2 double, f3 double, label int"
    )
    fs = {"FS-A": ["f1"], "FS-B": ["f1", "f2"], "FS-C": ["f1", "f2", "f3"]}
    out = ml.model_selection_grid(
        df, fs, "label", train_days=7, gap_days=0, val_days=3
    ).collect()
    # grid shape: |feature_sets| x {binary, 3class}
    assert len(out) == 6
    assert {(r["feature_set"], r["target"]) for r in out} == {
        (f, t) for f in fs for t in ("binary", "3class")
    }
    by_cfg = {(r["feature_set"], r["target"]): r for r in out}
    assert all(r["n_folds_used"] == 3 for r in out)
    # 3class is separable in f1 (in every set); binary needs f2 (FS-B up)
    assert all(by_cfg[(f, "3class")]["mean_f1"] == 1.0 for f in fs)
    assert by_cfg[("FS-B", "binary")]["mean_f1"] == 1.0
    assert by_cfg[("FS-A", "binary")]["mean_f1"] < 1.0
    # selection rule: exactly one winner; F1 ties break on kappa then fewer
    # features -> FS-A/3class (1 feature)
    sel = [r for r in out if r["selected"] == 1]
    assert len(sel) == 1
    assert sel[0]["feature_set"] == "FS-A" and sel[0]["target"] == "3class"
    # deterministic end to end: a second run reproduces every row
    out2 = ml.model_selection_grid(
        df, fs, "label", train_days=7, gap_days=0, val_days=3
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_selection_rule_report_rule_and_gates(spark):
    """The deterministic selection rule: exactly one selected config among
    usable ones, ordered by (score desc, val score desc, fewer features,
    lexicographic); folds failing the gates are excluded."""
    import datetime as dt

    from pyspark.sql import functions as F

    from practicum2_nof1_adhd_bd_spark.operators import folds, ml

    d0 = dt.date(2024, 1, 1)
    rows = []
    for i in range(30):
        # x1 tracks the label exactly; x2 is anti-correlated noise-free too
        # but through the binary target only
        lab = (-1, 0, 1)[i % 3]
        rows.append((d0 + dt.timedelta(days=i), float(lab), float(-lab), lab))
    df = spark.createDataFrame(rows, "date date, x1 double, x2 double, label int")
    folded = folds.day_folds(df, "date", train_days=7, gap_days=0, val_days=3)
    out = ml.selection_rule_report(
        folded,
        {"FS-A": ["x1"], "FS-B": ["x1", "x2"]},
        {"3class": F.col("label") + 1},
    ).collect()
    assert len(out) == 2
    sel = [r for r in out if r["selected"] == 1]
    assert len(sel) == 1
    # both configs score |corr|=1 per feature -> tie on score and val
    # score -> parsimony picks the 1-feature set
    assert sel[0]["feature_set"] == "FS-A"
    assert all(r["n_folds_used"] > 0 for r in out)


def test_selection_rule_report_unusable_folds_excluded(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from practicum2_nof1_adhd_bd_spark.operators import folds, ml

    d0 = dt.date(2024, 1, 1)
    # constant label: every fold fails the >=2-train-classes gate
    rows = [(d0 + dt.timedelta(days=i), float(i), 1) for i in range(20)]
    df = spark.createDataFrame(rows, "date date, x1 double, label int")
    folded = folds.day_folds(df, "date", train_days=7, gap_days=0, val_days=3)
    out = ml.selection_rule_report(
        folded, {"FS-A": ["x1"]}, {"3class": F.col("label")}
    ).collect()
    assert out[0]["n_folds_used"] == 0
    assert out[0]["selected"] == 0


def test_int8_quantize_error_bound_and_topk_fidelity(spark):
    """Symmetric int8: every reconstructed component is within scale/2 of
    the original (scale = max|v|/127), and the quantized top-k equals the
    full-precision top-k on well-separated vectors."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    qz = sim.int8_quantize(emb)
    joined = (
        emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .join(qz, "vec_id")
        .select(
            "vec_id",
            F.array_max(
                F.zip_with(
                    "v",
                    F.transform("qvec", lambda q, i: q.cast("double")),
                    lambda orig, q: F.abs(orig - q * F.col("scale")),
                )
            ).alias("max_err"),
            "scale",
        )
    )
    for r in joined.collect():
        assert r["max_err"] <= r["scale"] / 2 + 1e-12
    exact = [r["vec_id"] for r in sim.cosine_topk_bruteforce(emb, 0, k=3).collect()]
    quant = [r["vec_id"] for r in sim.int8_cosine_topk(emb, 0, k=3).collect()]
    assert exact == quant


def test_external_query_vector_matches_corpus_query(spark):
    """query_vec (the serving call) must return the same neighbors as the
    corpus-row form when given that row's own vector."""
    emb = _emb(spark)
    qvec = [1.0, 0.0, 0.0]  # vec_id 0's embedding
    by_id = sim.cosine_topk_bruteforce(emb, 0, k=3).collect()
    by_vec = sim.cosine_topk_bruteforce(emb, 0, k=3, query_vec=qvec).collect()
    assert [tuple(r) for r in by_id] == [tuple(r) for r in by_vec]

    # external-only query (no corpus row to exclude): still ranks
    out = sim.cosine_topk_bruteforce(
        emb, None, k=2, query_vec=[0.5, 0.5, 0.0]
    ).collect()
    assert len(out) == 2


def test_sql_expression_twins_bit_exact(spark):
    """_darr_sql/_cosine_sql are parsed-string twins of the
    F.lit/Column-API builders (r15 plan-build rewrite). They must
    produce BIT-IDENTICAL doubles — the value-hash oracles depend on
    the string path evaluating the same float sequence the Column
    path did (ADVICE r15: this equivalence was only attested
    indirectly)."""
    import math
    import struct

    vec = [0.1, -2.7182818284590455, 1e-300, 3.14159, 0.0]
    df = spark.createDataFrame(
        [([0.3, 0.77, -1e-299, 2.5, 9.9],)], "v array<double>"
    )
    sql_row = df.selectExpr(
        f"{sim._darr_sql(vec)} AS lit_arr",
        f"{sim._cosine_sql('v', sim._darr_sql(vec))} AS cos_sql",
    ).collect()[0]
    col_row = df.select(
        F.array(*[F.lit(x) for x in vec]).alias("lit_arr"),
        sim.cosine(
            F.col("v"), F.array(*[F.lit(x) for x in vec])
        ).alias("cos_col"),
    ).collect()[0]
    assert sql_row["lit_arr"] == col_row["lit_arr"]  # exact, incl 1e-300
    assert struct.pack("<d", sql_row["cos_sql"]) == struct.pack(
        "<d", col_row["cos_col"]
    )
    assert not math.isnan(sql_row["cos_sql"])


def test_linear_shap_matches_numpy_closed_form(spark):
    """ml.linear_shap_attribution must equal the numpy normal-equations
    solve + mean|w_j (x_j - mu_j)| — the LinearExplainer closed form the
    reference computes via the shap package (ml7_analysis.py:238-320)."""
    import numpy as np

    rng = np.random.RandomState(7)
    n = 500
    x1 = np.round(rng.uniform(30, 220, n), 6)
    x2 = rng.randint(50, 3000, n).astype(float)
    x3 = rng.randint(1, 500, n).astype(float)
    sig = 0.01 * x1 - 0.002 * x2 + 0.005 * x3
    y = (sig + rng.normal(0, 1, n) > 0.5).astype(float) - (sig < -2).astype(
        float
    )
    df = spark.createDataFrame(
        [tuple(map(float, r)) for r in zip(x1, x2, x3, y)],
        "f1 double, f2 double, f3 double, lab double",
    )
    out = ml.linear_shap_attribution(df, ["f1", "f2", "f3"], "lab").collect()
    X = np.column_stack([x1, x2, x3])
    Xc = X - X.mean(0)
    w = np.linalg.solve(Xc.T @ Xc, Xc.T @ (y - y.mean()))
    shap = np.abs(w * Xc).mean(0)
    assert len(out) == 3
    by_rank = sorted(out, key=lambda r: r["rank"])
    assert [r["feature"] for r in by_rank] == [
        f"f{j+1}" for j in np.argsort(-shap)
    ]
    for r in out:
        j = int(r["feature"][1]) - 1
        assert abs(r["mean_abs_shap"] - shap[j]) < 1e-5
        assert abs(r["weight"] - w[j]) < 1e-7


def test_linear_shap_singular_design_is_empty(spark):
    """A degenerate design (constant feature -> a zero row/column in the
    normal equations, det exactly 0) must yield an EMPTY frame (the
    caller falls back to the feature_attribution surrogate), never an
    ANSI division error."""
    rows = [(float(i), 5.0, 3.0 * i, float(i % 3 - 1)) for i in range(40)]
    df = spark.createDataFrame(
        rows, "f1 double, f2 double, f3 double, lab double"
    )
    assert (
        ml.linear_shap_attribution(df, ["f1", "f2", "f3"], "lab").count() == 0
    )
