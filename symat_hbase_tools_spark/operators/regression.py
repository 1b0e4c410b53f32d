"""Closed-form linear-probe training over the corpus — ridge regression by
distributed sufficient statistics.

The "train a linear/logistic probe on the whole corpus" step of an LLM data
pipeline (quality filters, language probes, domain classifiers) does not
need SGD when the model is linear in hand-built features: the normal
equations (X'X + lambda*I) w = X'y need only the Gram matrix and moment
vector — k*(k+1)/2 + k sums — which ONE map-side-combined aggregation pass
produces at any corpus size. The driver then solves a k x k system
(microseconds for k <= a few thousand). This is the exact-arithmetic
analog of Spark MLlib's normal-equation solver
(`LinearRegression(solver="normal")`), restated so the distributed part is
plain `F.sum` products that an external SQL engine can replay bit-for-bit:

  * features are exact INTEGERS (counts from the quality_score family),
    the label is 0/1 — every Gram/moment entry is an exact integer sum, so
    the oracle comparison is hash-exact, no float fold-order caveats;
  * the driver-side solve is deterministic given those integers, and is
    validated against numpy lstsq in tests.

Scale shape: one narrow scan -> one wide aggregate (21 sums for k=5, pure
map-side partial aggregation, one 1-row result). No shuffle of data rows,
no iterations, no driver collect beyond the 1-row Gram. At 100 TB this is
a single pass — the cheapest possible training loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from symat_hbase_tools_spark.functions.text import stopword_hits, token_count
from symat_hbase_tools_spark.sources.io import local_frame
from symat_hbase_tools_spark.sources.tables import load_table

#: probe feature names, in Gram index order; f0 is the intercept column
FEATURE_NAMES = ["intercept", "n_tokens", "n_chars", "non_word", "stop_hits"]
#: ridge penalty on the non-intercept diagonal (exact integer, so the
#: regularized system stays integer-exact)
RIDGE_LAMBDA = 1


def _probe_features(spark: SparkSession, sf_dir: str):
    """(doc frame, [feature Columns], label Column) — all exact integers.
    Label: the document is English (the classic linear language probe)."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    feats = [
        F.lit(1).cast("bigint"),
        token_count(text),
        F.length(text).cast("bigint"),
        (
            F.length(text) - F.length(F.regexp_replace(text, "[^a-z ]", ""))
        ).cast("bigint"),
        stopword_hits(text),
    ]
    label = (F.col("lang") == "en").cast("bigint")
    return docs, feats, label


def probe_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of the probe fit: every normal-equation
    sufficient statistic as one long-form row (stat, value).

    stats: xx_i_j (i <= j) upper-triangle Gram entries, xy_i moment
    entries, yy. All exact BIGINT sums — one aggregate pass, map-side
    combined; xx_0_0 doubles as the row count (intercept is the ones
    column).
    """
    docs, feats, label = _probe_features(spark, sf_dir)
    k = len(feats)
    aggs = []
    for i in range(k):
        for j in range(i, k):
            aggs.append(F.sum(feats[i] * feats[j]).alias(f"xx_{i}_{j}"))
    for i in range(k):
        aggs.append(F.sum(feats[i] * label).alias(f"xy_{i}"))
    aggs.append(F.sum(label * label).alias("yy"))
    wide = docs.agg(*aggs)
    stat_cols = [f"xx_{i}_{j}" for i in range(k) for j in range(i, k)]
    stat_cols += [f"xy_{i}" for i in range(k)] + ["yy"]
    stack = ", ".join(f"'{c}', {c}" for c in stat_cols)
    return wide.selectExpr(
        f"stack({len(stat_cols)}, {stack}) AS (stat, value)"
    ).select("stat", F.col("value").cast("bigint").alias("value"))


def ridge_fit(
    spark: SparkSession, sf_dir: str, lam: int = RIDGE_LAMBDA
) -> DataFrame:
    """Solve the ridge normal equations from the distributed Gram and
    return one row per coefficient plus fit diagnostics.

    Only the 21-number Gram reaches the driver; the k x k solve is numpy.
    mse/r2 derive from the same sufficient statistics (no second data
    pass): mse = (y'y - 2 w'X'y + w'X'X w) / n.
    """
    import numpy as np

    rows = {r["stat"]: r["value"] for r in probe_gram(spark, sf_dir).collect()}
    k = len(FEATURE_NAMES)
    G = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            G[i, j] = G[j, i] = rows[f"xx_{i}_{j}"]
    Xy = np.array([rows[f"xy_{i}"] for i in range(k)], dtype=np.float64)
    yy = float(rows["yy"])
    n = rows["xx_0_0"]
    reg = np.eye(k) * float(lam)
    reg[0, 0] = 0.0  # never penalize the intercept
    w = np.linalg.solve(G + reg, Xy)
    mse = (yy - 2 * w @ Xy + w @ G @ w) / max(n, 1)
    ybar = Xy[0] / max(n, 1)  # xy_0 = sum(label)
    var_y = yy / max(n, 1) - ybar * ybar
    r2 = 1.0 - mse / var_y if var_y > 0 else 0.0
    out = [
        (FEATURE_NAMES[i], float(w[i]), int(n), float(mse), float(r2))
        for i in range(k)
    ]
    return local_frame(
        spark, out, "feature string, coef double, n_rows bigint, mse double, r2 double"
    )


def probe_fit_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-oracle twin of ridge_fit: the solve is driver-side
    arithmetic the SQL oracle cannot replay, so the oracle confirms the
    deterministic bits (row count) and the engine asserts the fit
    invariants as booleans: mse below label variance (the probe beats the
    constant predictor) and r2 in [0, 1)."""
    fit = ridge_fit(spark, sf_dir)
    one = fit.limit(1)
    docs = load_table(spark, sf_dir, "documents")
    return (
        one.select("n_rows", "mse", "r2")
        .crossJoin(F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_docs"))))
        .select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            (F.col("n_rows") == F.col("n_docs")).alias("counts_match"),
            (F.col("mse") >= 0).alias("mse_nonneg"),
            ((F.col("r2") >= 0) & (F.col("r2") < 1)).alias("r2_in_range"),
        )
    )
