"""Covariate residualization ("deconfounding") — M1-M5 (reference
daxos/deconfound.py:8-102, scripts/adjust_hdf5_for_covariates.py).

The reference fits p independent per-column OLS regressions (215k
sklearn fits needing a shared-memory pool and a 300 GB / 10 h budget —
BASELINE.md). Closed form instead (SURVEY §2.6 M1):

    betas = (CᵀC)⁻¹ CᵀX        C: n×(k+1) design [1|covars], X: n×p

CᵀC is (k+1)² — a handful of sum-of-product aggregates. CᵀX is
(k+1)×p — one distributed pass: posexplode the features array and
partially-aggregate sum(val·cᵢ) per position (map-side combine makes
the shuffle p×n_partitions rows, not n×p). One stage, any p, no Python
in the row loop. The residual transform X − C·betas is the one genuine
pandas-UDF site (SURVEY §7.3): numpy matmul per Arrow batch against the
broadcast (k+1)×p beta matrix.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from ..sources.tables import covar_columns


def align_covars(fact: DataFrame, covars: DataFrame) -> DataFrame:
    """J2 ordered-alignment join (deconfound.py:19-26): the reference
    reorders the covariate table to match matrix row order; here
    alignment is an equi-join on IID and order is carried by row_idx."""
    cov_cols = covar_columns(covars)
    return fact.join(
        F.broadcast(covars.select(F.col("IID").alias("__iid"), *cov_cols)),
        fact["iid"] == F.col("__iid"),
        "inner",
    ).drop("__iid")


def standardize_covars(
    df: DataFrame, cov_cols: list[str], stats: dict[str, tuple[float, float]] | None = None
) -> tuple[DataFrame, dict[str, tuple[float, float]]]:
    """M5 covariate standardization (adjust_hdf5_for_covariates.py:25-31):
    z-score each covariate; test splits reuse the train stats."""
    if stats is None:
        row = df.agg(
            *[F.avg(c).alias(f"m_{c}") for c in cov_cols],
            *[F.stddev_pop(c).alias(f"s_{c}") for c in cov_cols],
        ).collect()[0]
        stats = {c: (float(row[f"m_{c}"]), float(row[f"s_{c}"]) or 1.0) for c in cov_cols}
    out = df
    for c in cov_cols:
        m, s = stats[c]
        out = out.withColumn(c, (F.col(c) - F.lit(m)) / F.lit(s))
    return out, stats


def _design(cov_cols: list[str]) -> list[Column]:
    """Columns of the design matrix C = [1 | covars]."""
    return [F.lit(1.0), *[F.col(c).cast("double") for c in cov_cols]]


def _gramian(
    fact: DataFrame, zs: list[Column], extra: list[Column] | None = None
) -> tuple[np.ndarray, Row]:
    """CᵀC of the design ``zs`` — the (k+1)² upper-triangle sums in ONE
    aggregation job, with ``extra`` aggregates riding the same pass.
    Returns (CᵀC, the aggregate row)."""
    n = len(zs)
    aggs = [F.sum(zs[i] * zs[j]).alias(f"g_{i}_{j}") for i in range(n) for j in range(i, n)]
    row = fact.agg(*aggs, *(extra or [])).collect()[0]
    ctc = np.zeros((n, n))
    for i in range(n):
        for j in range(i, n):
            ctc[i, j] = ctc[j, i] = row[f"g_{i}_{j}"]
    return ctc, row


def compute_beta_matrix(
    fact: DataFrame, cov_cols: list[str], features_col: str = "features"
) -> np.ndarray:
    """M1 closed-form betas, shape (k+1, p); design = [1 | covars]."""
    k = len(cov_cols)
    # both aggregation passes must see the SAME rows: posexplode drops
    # null/empty feature arrays, so CᵀC must drop them too or the
    # design matrices silently mismatch
    fact = fact.filter(
        F.col(features_col).isNotNull() & (F.size(F.col(features_col)) > 0)
    )
    zs = _design(cov_cols)
    ctc, _ = _gramian(fact, zs)

    # CᵀX — posexplode + per-position partial aggregation
    exploded = fact.select(
        *[z.alias(f"__z{i}") for i, z in enumerate(zs)],
        F.posexplode(F.col(features_col)).alias("pos", "__v"),
    )
    ctx_rows = (
        exploded.groupBy("pos")
        .agg(*[F.sum(F.col(f"__z{i}") * F.col("__v").cast("double")).alias(f"c{i}") for i in range(k + 1)])
        .collect()
    )
    p = max(r["pos"] for r in ctx_rows) + 1
    ctx = np.zeros((k + 1, p))
    for r in ctx_rows:
        for i in range(k + 1):
            ctx[i, r["pos"]] = r[f"c{i}"]

    return np.linalg.solve(ctc, ctx)  # (k+1, p)


def residualize_features(
    fact: DataFrame,
    cov_cols: list[str],
    betas: np.ndarray,
    features_col: str = "features",
    out_col: str = "features_adj",
) -> DataFrame:
    """M3 residual transform: features_adj = X − C·betas.

    Arrow-batched pandas UDF (the designated slow-path escape hatch):
    per batch, one numpy matmul (b×(k+1)) @ ((k+1)×p). The beta matrix
    rides along as a broadcast variable (k·p doubles — the only
    driver-sized object, per the reference's own design O10/M3 where
    betas are also dense in memory, deconfound.py:87-102).
    """
    spark = fact.sparkSession
    b_betas = spark.sparkContext.broadcast(betas.astype(np.float64))
    schema = ", ".join(
        f"{name} {dtype}" for name, dtype in fact.dtypes
    ) + f", {out_col} array<float>"
    k = len(cov_cols)

    def transform(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = b_betas.value
        for pdf in batches:
            X = np.stack(pdf[features_col].to_numpy()).astype(np.float64)
            C = np.column_stack(
                [np.ones(len(pdf)), *[pdf[c].to_numpy(dtype=np.float64) for c in cov_cols]]
            )
            adj = (X - C @ B).astype(np.float32)
            out = pdf.copy()
            out[out_col] = list(adj)
            yield out

    return fact.mapInPandas(transform, schema=schema)


def label_betas(fact: DataFrame, cov_cols: list[str], label_col: str = "label") -> np.ndarray:
    """M2 linear label-deconfound betas (deconfound.py:54-62), closed
    form on the same CᵀC with Cᵀy (one aggregation job)."""
    zs = _design(cov_cols)
    y = F.col(label_col).cast("double")
    ctc, row = _gramian(fact, zs, [F.sum(z * y).alias(f"y{i}") for i, z in enumerate(zs)])
    cty = np.array([row[f"y{i}"] for i in range(len(zs))])
    return np.linalg.solve(ctc, cty)


def residualize_label(
    fact: DataFrame,
    cov_cols: list[str],
    betas: np.ndarray,
    label_col: str = "label",
    out_col: str = "label_adj",
) -> DataFrame:
    """M4: label_adj = y − C·y_betas — pure column arithmetic."""
    pred = F.lit(float(betas[0]))
    for i, c in enumerate(cov_cols):
        pred = pred + F.lit(float(betas[i + 1])) * F.col(c).cast("double")
    return fact.withColumn(out_col, (F.col(label_col).cast("double") - pred).cast("float"))


def deconfound(
    fact: DataFrame,
    covars: DataFrame,
    standardize: bool = True,
    stats: dict[str, tuple[float, float]] | None = None,
    feature_betas: np.ndarray | None = None,
    y_betas: np.ndarray | None = None,
):
    """Full M1-M5 pipeline (adjust_hdf5_for_covariates.py main flow):
    align → standardize → betas → residualize X and y.

    Returns (adjusted DataFrame with features_adj/label_adj, fitted
    scaler stats, feature betas, label betas). A test split must pass
    ALL of the train-fitted pieces back in (``stats``, ``feature_betas``,
    ``y_betas``) — refitting betas on the test rows would residualize
    test features into a different space than the model was trained in
    and leak test labels into the y-adjustment.
    """
    cov_cols = covar_columns(covars)
    joined = align_covars(fact, covars)
    if standardize:
        joined, stats = standardize_covars(joined, cov_cols, stats)
    fb = feature_betas if feature_betas is not None else compute_beta_matrix(joined, cov_cols)
    yb = y_betas if y_betas is not None else label_betas(joined, cov_cols)
    out = residualize_features(joined, cov_cols, fb)
    out = residualize_label(out, cov_cols, yb)
    return out.drop(*cov_cols), stats, fb, yb
