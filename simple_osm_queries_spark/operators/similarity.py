"""Similarity search over embedding columns (array<float>).

* ``cosine_topk``     — brute-force exact top-k against one query vector:
  column-math dot/norm (F.zip_with + F.aggregate, JVM-side) then a global
  top-k. Exact baseline; scans everything but never shuffles more than k
  rows per partition (Spark's TakeOrdered).
* ``cosine_topk_ann`` — LSH-bucketed approximate variant (the scale path):
  candidates share a hyperplane-signature band with the query, exact cosine
  re-rank on candidates only. Probes a bounded fraction of the table.
* ``cosine_topk_ivf`` — inverted-file variant: scan only the ``nprobe``
  inverted lists nearest the query.

The three top-k searches differ only in which rows they score; all end in
the same exact re-rank (`_rerank`). Every input table is (vec_id,
embedding).
"""

from __future__ import annotations

# module-level: pandas_udf type-hint resolution needs pd/np importable here
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simple_osm_queries_spark.operators.dedup import (
    _hyperplanes,
    cosine_col,
    dot_col,
    hyperplane_signature_col,
    norm_col,
)


__all__ = [
    "cosine_topk",
    "cosine_topk_ann",
    "cosine_col",
    "dot_col",
    "norm_col",
    "ivf_train_centroids",
    "ivf_assign_col",
    "ivf_index",
    "cosine_topk_ivf",
]


def _rerank(df: DataFrame, qvec, k: int) -> DataFrame:
    """Exact re-rank shared by every top-k search: column-math cosine
    against the query, top k by (cosine desc, id asc)."""
    q = F.array(*[F.lit(float(x)) for x in qvec])
    scored = df.select(
        F.col("vec_id"),
        cosine_col(F.col("embedding").cast("array<double>"), q).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def cosine_topk(df: DataFrame, qvec, k: int = 10) -> DataFrame:
    return _rerank(df, qvec, k)


def cosine_topk_ann(
    df: DataFrame,
    qvec,
    k: int = 10,
    dim: int = 64,
    sig_bits: int = 32,
    chunks: int = 4,
) -> DataFrame:
    """Approximate top-k: candidate = shares >=1 signature chunk with the
    query. Recall < 1 by design; precision exact on candidates."""
    # the signature UDF's own bit rule: (mat @ planes.T) > 0 on a 1-row mat
    mat = np.asarray([qvec], dtype=np.float64)
    pos = (mat @ _hyperplanes(dim, sig_bits).T) > 0
    qsig = sum(1 << int(b) for b in np.flatnonzero(pos[0]))
    width = sig_bits // chunks
    mask = (1 << width) - 1
    qchunks = [(qsig >> (c * width)) & mask for c in range(chunks)]

    sig = hyperplane_signature_col(F.col("embedding"), dim, sig_bits)
    with_sig = df.select("vec_id", "embedding", sig.alias("sig"))
    cond = None
    for c in range(chunks):
        this = (
            F.shiftright(F.col("sig"), c * width).bitwiseAND(F.lit(mask)) == F.lit(qchunks[c])
        )
        cond = this if cond is None else (cond | this)
    return _rerank(with_sig.filter(cond), qvec, k)


# --- IVF (inverted-file) ANN -------------------------------------------------


def ivf_train_centroids(df: DataFrame, nlist: int = 16, iters: int = 3):
    """Deterministic coarse quantizer: k-means on L2-normalized vectors
    (spherical k-means — argmax cosine == argmin L2 on the unit sphere).

    Init = the nlist smallest-id vectors (deterministic, no RNG); ``iters``
    Lloyd rounds, each ONE distributed pass with a map-side combine: tasks
    assign their Arrow batches and emit <= nlist partial-sum rows each (no
    shuffle, no per-dimension explode); the driver reduces the tiny
    partials in numpy.
    Returns centroids as a (nlist, dim) numpy array of unit vectors.
    """
    base = df.select("vec_id", "embedding")
    init = (
        base.orderBy(F.col("vec_id").asc()).limit(nlist).select("embedding").collect()
    )
    cents = np.asarray([r[0] for r in init], dtype=np.float64)
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    dim = cents.shape[1]
    for _ in range(iters):
        # map-side combine: each task assigns its Arrow batches and emits at
        # most nlist (cluster, partial_sum_vec, n) rows — NO shuffle, no
        # per-dimension explode; the final reduce is a driver-side numpy
        # add over <= partitions x nlist tiny rows. This is the 100-TB
        # shape: one scan per Lloyd round, constant-size task output.
        cents_b = cents

        def partials(batches):
            acc = np.zeros((len(cents_b), dim), dtype=np.float64)
            counts = np.zeros(len(cents_b), dtype=np.int64)
            for b in batches:
                mat = np.asarray([np.asarray(v, dtype=np.float64) for v in b["embedding"]])
                if not len(mat):
                    continue
                norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
                unit = mat / norms
                assign = np.argmax(unit @ cents_b.T, axis=1)
                # spherical k-means: accumulate the NORMALIZED vectors, or
                # heterogeneous norms (e.g. length-proportional text
                # embeddings) would let long documents dominate directions
                np.add.at(acc, assign, unit)
                np.add.at(counts, assign, 1)
            hit = np.flatnonzero(counts)
            yield pd.DataFrame(
                {
                    "cluster": hit.astype("int32"),
                    "s": [acc[c].tolist() for c in hit],
                    "n": counts[hit],
                }
            )

        rows = base.mapInPandas(
            partials, "cluster int, s array<double>, n long"
        ).collect()
        new = cents.copy()
        sums = np.zeros((len(cents), dim), dtype=np.float64)
        counts = np.zeros(len(cents), dtype=np.int64)
        for r in rows:
            sums[r.cluster] += np.asarray(r.s)
            counts[r.cluster] += r.n
        for c in np.flatnonzero(counts):
            vec = sums[c] / counts[c]
            nrm = np.linalg.norm(vec)
            if nrm > 1e-12:
                new[c] = vec / nrm
        cents = new
    return cents


def ivf_assign_col(vec, centroids) -> "F.Column":
    """Cluster id = argmax cosine against the broadcast centroid matrix —
    one numpy matmul per Arrow batch."""
    cents = np.ascontiguousarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def _assign(vs: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = (mat / norms) @ cents.T
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    return _assign(vec)


def ivf_index(df: DataFrame, nlist: int = 16, iters: int = 3):
    """(assignments DataFrame with a `cluster` column, centroids ndarray).

    Scale path: write the assignments parquet PARTITIONED BY cluster —
    probes then prune whole partitions (same layout trick as the grid
    index); the centroid matrix is tiny and lives with the query driver.
    """
    cents = ivf_train_centroids(df, nlist, iters)
    assigned = df.withColumn("cluster", ivf_assign_col(F.col("embedding"), cents))
    return assigned, cents


def cosine_topk_ivf(
    index: DataFrame,
    centroids,
    qvec,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF search: rank centroids against the query driver-side (tiny
    matmul), scan only the ``nprobe`` nearest inverted lists, exact cosine
    re-rank. nprobe=nlist degenerates to exact brute force."""
    q = np.asarray(qvec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    order = np.argsort(-(np.asarray(centroids) @ q))
    probes = [int(c) for c in order[:nprobe]]
    return _rerank(index.filter(F.col("cluster").isin(probes)), qvec, k)
