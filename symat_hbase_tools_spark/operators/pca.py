"""Distributed PCA over the embeddings table.

The dimensionality-reduction step an embedding pipeline runs before
clustering / ANN indexing (cheaper distances, decorrelated axes). Classic
two-phase shape — the same pattern as every distributed covariance /
closed-form regression:

  1. ONE pass computes the sufficient statistics: per-Arrow-batch partial
     (count, sum vector, Gram matrix X^T X) via ``mapInPandas`` (numpy BLAS
     per batch), reduced with a plain ``sum`` aggregate over the flattened
     d + d*d + 1 doubles. The reduce input is O(partitions * d^2) — tiny —
     so the driver never sees data-scale rows, only moment sums. For d=64
     that is 4161 doubles per partition regardless of row count: the same
     plan runs unchanged at 100 TB.
  2. The d x d eigendecomposition runs on the DRIVER (numpy.linalg.eigh) —
     O(d^3) with d in the hundreds is microseconds and needs no cluster.
  3. Projection is a second map-only pass: broadcast the (d x k) component
     matrix inside the Arrow kernel closure, one BLAS matmul per batch.

Float caveat (why this is a rows-only query): partial Gram sums depend on
partition boundaries, so coordinates can drift by ulps across layouts. The
oracle-paired companion ``pca_check`` verifies the INVARIANTS instead:
component orthonormality, centering of the projection, and the
variance-accounting identity — all with explicit tolerances.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from symat_hbase_tools_spark.sources.io import local_frame
from symat_hbase_tools_spark.sources.tables import load_table

#: principal components kept by the default projection
PCA_K = 8

_MOMENT_SCHEMA = "idx long, val double"


def _moment_stats(emb: DataFrame, d: int) -> np.ndarray:
    """One distributed pass -> [n, sum(d), gram(d*d)] as a numpy vector."""

    def partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            out = np.empty(1 + d + d * d)
            out[0] = x.shape[0]
            out[1 : 1 + d] = x.sum(axis=0)
            out[1 + d :] = (x.T @ x).ravel()
            yield pd.DataFrame({"idx": np.arange(out.size), "val": out})

    reduced = (
        emb.select("embedding")
        .mapInPandas(partial, schema=_MOMENT_SCHEMA)
        .groupBy("idx")
        .agg(F.sum("val").alias("val"))
        .collect()
    )
    vec = np.zeros(1 + d + d * d)
    for row in reduced:
        vec[row["idx"]] = row["val"]
    return vec


def fit(spark: SparkSession, sf_dir: str, k: int = PCA_K):
    """Fit PCA on the embeddings table; returns (mean, components, evr)
    where components is (d, k) column-orthonormal and evr the explained
    variance ratio per component."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = len(emb.select("embedding").first()["embedding"])
    stats = _moment_stats(emb, d)
    n = stats[0]
    s = stats[1 : 1 + d]
    gram = stats[1 + d :].reshape(d, d)
    mean = s / n
    cov = (gram - np.outer(s, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    components = evecs[:, order]
    # sign-canonicalize: eigenvectors come with arbitrary sign; flip each
    # so its largest-|coefficient| entry is positive — output then doesn't
    # depend on the LAPACK build's sign convention
    flip = np.sign(components[np.abs(components).argmax(axis=0), np.arange(len(order))])
    flip[flip == 0] = 1.0
    components = components * flip
    evr = evals[order] / evals.sum()
    return mean, components, evr


def pca_project_arrays(
    spark: SparkSession, sf_dir: str, k: int = PCA_K
) -> DataFrame:
    """Project every embedding onto the top-k principal axes — ARRAY form
    (vec_id, proj array<double>[k]). Internal/pipeline variant: downstream
    embedding ops want the vector; verification (``pca_check``) posexplodes
    it. The registered driver query is ``pca_project`` (scalar columns) —
    comparison harnesses canonicalize by sorting on column values, which an
    array column breaks (round-6 driver TypeError on numpy.ndarray)."""
    mean, components, _ = fit(spark, sf_dir, k)
    emb = load_table(spark, sf_dir, "embeddings")

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            proj = (x - mean) @ components
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "proj": list(proj)}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        project, schema="vec_id long, proj array<double>"
    )


def pca_project(spark: SparkSession, sf_dir: str, k: int = PCA_K) -> DataFrame:
    """Project every embedding onto the top-k principal axes.

    Output: (vec_id, pc1..pck double) — one SCALAR column per component,
    each rounded to 6 decimals, keyed by vec_id. Rows-only (see module
    docstring: partial Gram sums drift by ulps across partition layouts);
    ``pca_check`` is the oracle-paired verification. The rounding plus the
    sign canonicalization in ``fit`` make the emitted values stable across
    runs/layouts in practice, and the all-scalar schema keeps the output
    sortable by any comparison harness."""
    proj = pca_project_arrays(spark, sf_dir, k)
    cols = [
        F.round(F.col("proj")[i], 6).alias(f"pc{i + 1}") for i in range(k)
    ]
    return proj.select("vec_id", *cols)


def pca_check(spark: SparkSession, sf_dir: str, k: int = PCA_K) -> DataFrame:
    """Tolerance oracle for ``pca_project`` (the ann_*_recall_check
    pattern): engine-side booleans the DuckDB oracle states as expected
    constants, plus the exact corpus count as the shared witness.

    * components orthonormal: max |V^T V - I| < 1e-8 (driver, d x k);
    * projection centered: per-axis |mean| < 1e-6 (distributed aggregate
      over the projected output — checks the actual emitted rows);
    * variance accounting: 0 < sum(evr over k) <= 1 + 1e-12.
    """
    mean, components, evr = fit(spark, sf_dir, k)
    ortho_ok = bool(
        np.abs(components.T @ components - np.eye(k)).max() < 1e-8
    )
    var_ok = bool(0.0 < evr.sum() <= 1.0 + 1e-12)

    proj = pca_project_arrays(spark, sf_dir, k)
    sums = proj.select(
        F.posexplode("proj").alias("axis", "x")
    ).groupBy("axis").agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    centered_ok_row = sums.agg(
        (F.max(F.abs(F.col("s") / F.col("n"))) < 1e-6).alias("ok"),
        (F.sum("n") / k).cast("long").alias("n_vectors"),
    ).first()

    return local_frame(
        spark,
        [
            (
                int(centered_ok_row["n_vectors"]),
                int(k),
                bool(ortho_ok),
                bool(centered_ok_row["ok"]),
                bool(var_ok),
            )
        ],
        "n_vectors long, k int, orthonormal_ok boolean, centered_ok boolean, "
        "variance_ok boolean",
    )
