"""Per-segment iterative imputation — SURVEY.md §2.4 A13.

The reference runs sklearn ``IterativeImputer(max_iter=10, random_state=42,
sample_posterior=True)`` per temporal segment with >= 5 rows; all-NaN
columns inside such a segment become 0.0, smaller segments are left missing
and backfilled with the global (post-MICE) median, and an all-NaN global
column falls back to 0 (ref run_full_pipeline.py:910-969).

sklearn is not available in this environment, so both pieces are numpy
re-implementations of the published algorithms:

- ``_bayesian_ridge``: evidence-approximation Bayesian ridge regression
  (MacKay 1992 updates as used by sklearn.linear_model.BayesianRidge —
  SVD-based coefficient update, gamma/alpha/lambda re-estimation with the
  1e-6 Gamma hyperpriors, centered X/y, predictive variance
  ``x Sigma x' + 1/alpha``).
- ``_mice_impute``: chained equations in ascending-missing-count order,
  mean initialization, 10 rounds, and per-feature POSTERIOR SAMPLING:
  imputed cells are drawn ``rng.normal(mu, sigma)`` from the Bayesian-ridge
  predictive distribution. With sampling there is no early stop (matching
  sklearn's rule that tol-based convergence only applies when
  ``sample_posterior=False``).

Seeding: the reference constructs a NEW IterativeImputer(random_state=42)
for every segment, so each segment's chain is independently seeded with 42
— which is exactly the embarrassingly-parallel shape a Spark groupBy needs.
Runs as grouped applyInPandas, one group per segment; thousands of segments
impute concurrently. The global-median fallback is computed AFTER the
per-segment pass (over imputed values, as the reference does) by a
whole-frame window over its output — no driver-side loop over segments.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _bayesian_ridge(X: np.ndarray, y: np.ndarray, max_iter: int = 300,
                    tol: float = 1e-3, a1: float = 1e-6, a2: float = 1e-6,
                    l1: float = 1e-6, l2: float = 1e-6):
    """Evidence-approximation Bayesian ridge fit (sklearn-parameterized).

    Returns (coef, intercept, alpha_, sigma_cholesky_basis) where the
    predictive std for a centered row x is sqrt(x @ Sigma @ x + 1/alpha_).
    """
    n, d = X.shape
    X_mean = X.mean(axis=0)
    y_mean = y.mean()
    Xc = X - X_mean
    yc = y - y_mean
    eps = np.finfo(np.float64).eps
    alpha_ = 1.0 / (np.var(y) + eps)
    lambda_ = 1.0
    U, S, Vh = np.linalg.svd(Xc, full_matrices=False)
    eigen = S**2
    XTy = Xc.T @ yc
    coef = np.zeros(d)
    for _ in range(max_iter):
        coef_old = coef
        # coef = Vh' diag(1/(eigen + lambda/alpha)) Vh X'y
        scale = 1.0 / (eigen + lambda_ / alpha_ + eps)
        coef = Vh.T @ (scale * (Vh @ XTy))
        rmse = float(((yc - Xc @ coef) ** 2).sum())
        gamma = float(np.sum((alpha_ * eigen) / (lambda_ + alpha_ * eigen)))
        lambda_ = (gamma + 2.0 * l1) / (float(coef @ coef) + 2.0 * l2)
        alpha_ = (n - gamma + 2.0 * a1) / (rmse + 2.0 * a2)
        if np.sum(np.abs(coef - coef_old)) < tol:
            break
    scale = 1.0 / (eigen + lambda_ / alpha_ + eps)
    # Sigma = (1/alpha) Vh' diag(scale) Vh ; keep the factored form
    sigma_half = (Vh.T * np.sqrt(scale / alpha_))  # Sigma = sigma_half @ sigma_half.T
    intercept = y_mean - float(X_mean @ coef)
    return coef, intercept, alpha_, X_mean, sigma_half


def _mice_impute(mat: np.ndarray, max_iter: int = 10, seed: int = 42,
                 sample_posterior: bool = True, tol: float = 1e-3) -> np.ndarray:
    """Chained-equations imputation with Bayesian-ridge posterior sampling.

    Columns that are entirely NaN are left NaN (callers decide the
    fallback, mirroring the reference's cols_with_data split).
    """
    mat = mat.astype("float64", copy=True)
    miss = np.isnan(mat)
    n, d = mat.shape
    rng = np.random.RandomState(seed)
    # mean initialization (sklearn initial_strategy="mean")
    for j in range(d):
        obs = ~miss[:, j]
        if obs.any():
            mat[miss[:, j], j] = mat[obs, j].mean()
    # ascending order by missing fraction, stable on ties; only features
    # with some (not all) missing take part in the round-robin
    fracs = miss.mean(axis=0)
    order = [
        int(j)
        for j in np.argsort(fracs, kind="mergesort")
        if miss[:, j].any() and not miss[:, j].all()
    ]
    if not order:
        return mat
    for _ in range(max_iter):
        max_delta = 0.0
        for j in order:
            others = [k for k in range(d) if k != j and not miss[:, k].all()]
            obs = ~miss[:, j]
            if obs.sum() < 2 or not others:
                continue
            X = mat[:, others]
            coef, intercept, alpha_, X_mean, sigma_half = _bayesian_ridge(
                X[obs], mat[obs, j]
            )
            Xt = X[~obs]
            mus = Xt @ coef + intercept
            if sample_posterior:
                proj = (Xt - X_mean) @ sigma_half
                stds = np.sqrt((proj**2).sum(axis=1) + 1.0 / alpha_)
                new = rng.normal(mus, stds)
            else:
                new = mus
                delta = np.abs(mat[~obs, j] - new).max() if new.size else 0.0
                max_delta = max(max_delta, float(delta))
            mat[~obs, j] = new
        if not sample_posterior and max_delta < tol:
            break
    return mat


def impute_per_segment(
    df: DataFrame,
    feature_cols: list[str],
    segment_col: str = "segment_id",
    min_rows: int = 5,
    max_iter: int = 10,
    seed: int = 42,
    sample_posterior: bool = True,
) -> DataFrame:
    """A13 — per-segment MICE with the reference's exact fallback chain.

    - segment >= min_rows: chained-equation imputation over the columns
      that have data; all-NaN columns inside the segment -> 0.0.
    - segment < min_rows: left missing by the per-segment pass, then filled
      with the GLOBAL median computed over the post-MICE frame (the
      reference computes df.median() after imputation); an all-NaN global
      column -> 0.0.

    Output schema = input schema with feature columns imputed (doubles, no
    nulls). One Arrow batch per segment. The median fallback is the
    ``percentile`` aggregate over a whole-frame window of the imputed
    rows, so the grouped UDF runs once. The window runs in one task (the
    frames imputed here are daily-grain), with no exchange when the input
    is read on one partition, and no driver-side loop over segments.
    """
    other_cols = [c for c in df.columns if c not in feature_cols]
    out_fields = ", ".join(
        [f"`{c}` {dict(df.dtypes)[c]}" for c in other_cols]
        + [f"`{c}` double" for c in feature_cols]
    )
    schema = StructType.fromDDL(out_fields)

    def impute(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        feats = pdf[feature_cols].astype("float64")
        if len(pdf) >= min_rows:
            with_data = [c for c in feature_cols if feats[c].notna().any()]
            if with_data:
                mat = _mice_impute(
                    feats[with_data].to_numpy(),
                    max_iter=max_iter,
                    seed=seed,
                    sample_posterior=sample_posterior,
                )
                feats[with_data] = mat
            for c in feature_cols:
                if c not in with_data:
                    feats[c] = 0.0
        for c in feature_cols:
            pdf[c] = feats[c]
        return pdf[other_cols + feature_cols]

    imputed = df.groupBy(segment_col).applyInPandas(impute, schema)

    # global post-MICE median fallback for rows the per-segment pass left
    # missing (small segments); all-NaN column -> 0.0
    whole = Window.partitionBy()
    return imputed.withColumns(
        {
            c: F.coalesce(F.col(c), F.percentile(c, 0.5).over(whole), F.lit(0.0))
            for c in feature_cols
        }
    )
