"""Distributed k-means (Lloyd) over embedding columns.

The scale story: each iteration is ONE distributed pass — every Arrow
batch assigns its rows to the broadcast centroids (a (batch x k) gemm)
and folds per-partition (cell, coordinate-sum, count) partials; a
k x (d+1)-row aggregate comes back to the driver, which holds only the
k x d centroid matrix.  No vector ever leaves its executor, the shuffle
per iteration is O(partitions x k x d) doubles, and the driver state is
O(k x d) — the treeAggregate shape Spark MLlib's KMeans uses, written
against the DataFrame/Arrow stack so it composes with this library's
sources (and none of MLlib's RDD serde).

Determinism: init is the embeddings of the k smallest ids (a pure
function of the data — reproducible in SQL, unlike sampled init), and
assignment ties break toward the lowest cell index.  That makes one
Lloyd iteration fully expressible in DuckDB (cross join + argmin +
grouped means), so the driver's value-hash gate covers the distributed
pass end to end (contract query ``kmeans_cells``).

``ivf_centroids`` (operators/similarity.py) trains on a bounded
driver-side sample — fine by construction for an IVF coarse quantizer.
``kmeans_fit`` here is the full-corpus path for when the clustering IS
the product (topic bucketing, curriculum binning): same Lloyd update,
but computed over every row distributively.

Reference analog: none (the reference is a k-mer sketch engine); this
belongs to the training-data battery the task mandates alongside
dedup/ANN.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from .aggregate import long_ids

__all__ = [
    "kmeans_init_min_ids",
    "kmeans_fit",
    "kmeans_assign",
]


def _as_matrix(col: pa.ChunkedArray | pa.Array) -> np.ndarray:
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    n = len(col)
    if n == 0:
        return np.zeros((0, 0))
    return flat.reshape(n, len(flat) // n)


def _sq_dists(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 distances via the gemm expansion."""
    return (
        (mat * mat).sum(axis=1)[:, None]
        - 2.0 * (mat @ cents.T)
        + (cents * cents).sum(axis=1)[None, :]
    )


def kmeans_init_min_ids(
    emb_df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic init: the embeddings of the k smallest ids.
    Plans as TakeOrderedAndProject (per-partition local k), and is a
    pure function of the data — the property that lets a Lloyd
    iteration be oracle-checked in SQL."""
    rows = emb_df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    return np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])


def kmeans_fit(
    emb_df: DataFrame,
    k: int = 8,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spherical: bool = False,
    init: np.ndarray | None = None,
) -> np.ndarray:
    """Lloyd k-means over the FULL corpus, one distributed pass per
    iteration (see module docstring for the plan shape).

    Empty cells keep their previous centroid.  ``spherical=True`` is
    spherical k-means (Dhillon & Modha 2001): input vectors are
    L2-normalized executor-side and centroids renormalize each round,
    so argmin-L2 on the unit sphere coincides with argmax-cosine —
    the metric the IVF ANN index probes with.  At real scale, persist
    the input once before calling (each iteration re-scans it).
    """
    spark = emb_df.sparkSession
    cents = kmeans_init_min_ids(emb_df, k, id_col, vec_col) if init is None else np.asarray(init, dtype=np.float64).copy()
    if spherical:
        norms = np.linalg.norm(cents, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cents = cents / norms
    k = len(cents)
    d = cents.shape[1]
    vecs = emb_df.select(vec_col)

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cents)

        def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            c = bc.value
            acc = np.zeros((len(c), c.shape[1] + 1))  # [:, :d] sums, [:, d] counts
            for batch in batches:
                mat = _as_matrix(batch.column(0))
                if mat.size == 0:
                    continue
                if spherical:
                    mn = np.linalg.norm(mat, axis=1, keepdims=True)
                    mn[mn == 0] = 1.0
                    mat = mat / mn
                assign = np.argmin(_sq_dists(mat, c), axis=1)
                np.add.at(acc[:, :-1], assign, mat)
                acc[:, -1] += np.bincount(assign, minlength=len(c))
            hit = np.nonzero(acc[:, -1])[0]
            if len(hit):
                yield pa.RecordBatch.from_pydict(
                    {
                        "cell": pa.array(hit.astype(np.int64)),
                        "s": pa.array([row.tolist() for row in acc[hit]], type=pa.list_(pa.float64())),
                    }
                )

        # one row per (cell, coordinate): P x k partial rows in, k x (d+1)
        # out — the only exchange in the iteration
        agg = (
            vecs.mapInArrow(partials, "cell long, s array<double>")
            .select("cell", F.posexplode("s").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.sum("v").alias("v"))
            .collect()
        )
        sums = np.zeros((k, d + 1))
        for r in agg:
            sums[r["cell"], r["pos"]] = r["v"]
        counts = sums[:, -1]
        hit = counts > 0
        cents = cents.copy()
        cents[hit] = sums[hit, :-1] / counts[hit, None]
        if spherical:
            norms = np.linalg.norm(cents, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            cents = cents / norms
    return cents


def kmeans_assign(
    emb_df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_dist: bool = False,
) -> DataFrame:
    """(id, cell[, sqdist]) hard assignment to the given centroids —
    map-only (one gemm per Arrow batch, no shuffle).  Ties break toward
    the lowest cell index (np.argmin keeps the first minimum), matching
    the SQL oracle's (dist, cell) ordering."""
    spark = emb_df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        c = bc.value
        for batch in batches:
            ids = batch.column(0)
            mat = _as_matrix(batch.column(1))
            if mat.size == 0:
                continue
            dists = _sq_dists(mat, c)
            assign = np.argmin(dists, axis=1)
            out = {"cell": pa.array(assign.astype(np.int64))}
            if with_dist:
                # the gemm expansion can yield -1e-13 for a point that
                # IS its (singleton) centroid; clamp — far below the
                # oracle's 1e-6 rounding, so hash parity is unaffected
                out["sqdist"] = pa.array(
                    np.maximum(dists[np.arange(len(assign)), assign], 0.0)
                )
            yield pa.RecordBatch.from_pydict({id_col: ids, **out})

    schema = f"{id_col} long, cell long" + (", sqdist double" if with_dist else "")
    return long_ids(emb_df, id_col).select(id_col, vec_col).mapInArrow(run, schema)
