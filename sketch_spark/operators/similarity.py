"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force exact baseline: the query matrix is
  broadcast, each partition computes a (batch x Q) float64 similarity
  block in numpy (BLAS) and keeps its local top-k, so the shuffle
  carries at most partitions x Q x k rows.  This is the exact oracle
  and the right plan whenever Q is small.
* ``lsh_bucket_topk`` — the scale path: random-hyperplane signatures
  block the corpus into 2^bits buckets; queries probe their own bucket
  plus all Hamming<=1 neighbors and run the exact kernel inside.  Same
  output schema; recall<1 by construction (tested against brute force).
* ``embedding_near_duplicates`` — near-dup pairs by cosine >= threshold
  via the same hyperplane blocking.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, Window as W

from ..core.hashing import derive_seeds
from .aggregate import long_ids

__all__ = [
    "cosine_topk",
    "exact_cosine_pairs",
    "exact_cosine_pairs_blocked",
    "cosine_sim_col",
    "lsh_bucket_topk",
    "embedding_near_duplicates",
    "hyperplane_buckets",
    "ivf_centroids",
    "ivf_assign",
    "ivf_topk",
    "build_ann_index",
    "load_ann_centroids",
    "ivf_topk_indexed",
    "lsh_topk_indexed",
    "incremental_semantic_dedup",
    "semantic_dedup_report",
]


def _topk_cells(sims: np.ndarray, n_probe: int) -> np.ndarray:
    """Deterministic per-row top-``n_probe`` column indices of ``sims``
    (similarity desc, column asc), shape (rows, n_probe).

    O(K) boundary cut instead of a full O(K log K) row sort (the
    argpartition pattern from ``cosine_topk``): per row, keep columns
    strictly above the n_probe-th largest value plus the FIRST
    (column-ascending) boundary ties up to the quota, then stable-sort
    only the kept n_probe by similarity — equal similarities keep
    column-ascending order, matching a lexsort over (col asc, sim desc).
    Matters when the coarse quantizer has many cells (K ~ 10^5 at
    10^12-vector scale) and n_probe is small.
    """
    rows, k_cols = sims.shape
    if n_probe >= k_cols:
        return np.argsort(-sims, axis=1, kind="stable")
    vk = np.partition(sims, k_cols - n_probe, axis=1)[:, k_cols - n_probe, None]
    greater = sims > vk
    quota = n_probe - greater.sum(axis=1, keepdims=True)
    ties = sims == vk
    keep = greater | (ties & (np.cumsum(ties, axis=1) <= quota))
    # nonzero is row-major: within each row the kept columns come out
    # ascending, so the stable sort's tie order is column-ascending
    cells = np.nonzero(keep)[1].reshape(rows, n_probe)
    order = np.argsort(-np.take_along_axis(sims, cells, axis=1), axis=1, kind="stable")
    return np.take_along_axis(cells, order, axis=1)


def _as_matrix(col: pa.ChunkedArray | pa.Array) -> np.ndarray:
    """(n, d) float64 matrix from an Arrow list<float> column."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    n = len(col)
    if n == 0:
        return np.zeros((0, 0))
    d = len(flat) // n
    return flat.reshape(n, d)


def _normalize(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def cosine_topk(
    emb_df: DataFrame,
    queries: dict[int, np.ndarray] | list[tuple[int, np.ndarray]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (query_id, rank, vec_id, sim) with deterministic
    tie-breaking by (rounded sim desc, vec_id asc).
    """
    qitems = sorted(queries.items() if isinstance(queries, dict) else queries)
    qids = np.array([q[0] for q in qitems], dtype=np.int64)
    qmat = _normalize(np.stack([np.asarray(q[1], dtype=np.float64) for q in qitems]))
    spark = emb_df.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        qids_, qmat_ = bc.value
        best: dict[int, list] = {int(q): [] for q in qids_}
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            mat = _as_matrix(batch.column(1))
            if mat.size == 0:
                continue
            sims = _normalize(mat) @ qmat_.T  # (n, Q) float64 BLAS
            # round BEFORE the local cut so the partition-local top-k
            # uses the same ordering as the final rank (rounded sim
            # desc, vec_id asc) — raw-float argpartition could cut a
            # candidate that ties at the k-th boundary after rounding
            # but outranks on vec_id
            sims = np.round(sims, sim_decimals)
            kk = min(k, sims.shape[0])
            for qi in range(len(qids_)):
                col = sims[:, qi]
                # O(n) boundary cut (ADVICE r2): a full lexsort over all
                # n rows per query per batch is avoidable — only rows
                # with rounded sim >= the k-th largest value can make
                # the deterministic (sim desc, id asc) top-k, including
                # every row TIED at the boundary (id asc breaks those),
                # so np.partition the cutoff then lexsort just the slice
                vk = np.partition(col, len(col) - kk)[len(col) - kk]
                cand = np.nonzero(col >= vk)[0]
                order = cand[np.lexsort((ids[cand], -col[cand]))[:kk]]
                for r in order:
                    best[int(qids_[qi])].append((float(col[r]), int(ids[r])))
        out_q, out_v, out_s = [], [], []
        for q, lst in best.items():
            lst.sort(key=lambda t: (-round(t[0], sim_decimals), t[1]))
            for s, v in lst[:k]:
                out_q.append(q)
                out_v.append(v)
                out_s.append(round(s, sim_decimals))
        yield pa.RecordBatch.from_pydict(
            {
                "query_id": pa.array(out_q, pa.int64()),
                "vec_id": pa.array(out_v, pa.int64()),
                "sim": pa.array(out_s, pa.float64()),
            }
        )

    local = emb_df.select(id_col, vec_col).mapInArrow(run, "query_id long, vec_id long, sim double")
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "sim")
    )


def exact_cosine_pairs(
    emb_df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
    strategy: str = "auto",
    broadcast_budget_bytes: int = 256 << 20,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold.

    strategy:
      "broadcast" — collect + broadcast the full normalized corpus
          matrix; each partition does one (batch x n) gemm.  Fastest
          when n x d x 8 fits comfortably in executor memory; driver
          OOM beyond that.
      "blocked"   — no driver collect, no full-corpus broadcast: the
          block-pair self-join (``exact_cosine_pairs_blocked``).  Exact
          at any n the O(n^2) compute itself is affordable at.
      "auto"      — estimate n x d x 8 with a count and pick: broadcast
          under ``broadcast_budget_bytes``, blocked above.
    """
    if strategy == "auto":
        n = emb_df.count()
        first = emb_df.select(F.size(F.col(vec_col)).alias("d")).first()
        d = int(first["d"]) if first and first["d"] is not None else 0
        strategy = "broadcast" if n * max(d, 1) * 8 <= broadcast_budget_bytes else "blocked"
    if strategy == "blocked":
        return exact_cosine_pairs_blocked(
            emb_df, threshold, id_col, vec_col, sim_decimals, n_blocks=n_blocks
        )
    if strategy != "broadcast":
        raise ValueError(f"unknown strategy {strategy!r}")
    rows = emb_df.select(id_col, vec_col).collect()
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    mat = _normalize(np.stack([np.asarray(rows[i][vec_col], dtype=np.float64) for i in order]))
    spark = emb_df.sparkSession
    bc = spark.sparkContext.broadcast((ids, mat))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        all_ids, all_mat = bc.value
        for batch in batches:
            bids = batch.column(0).to_numpy(zero_copy_only=False)
            bmat = _as_matrix(batch.column(1))
            if bmat.size == 0:
                continue
            sims = _normalize(bmat) @ all_mat.T  # (b, n)
            # keep id_a < id_b so each pair is emitted exactly once
            mask = (sims >= threshold) & (bids[:, None] < all_ids[None, :])
            bi, ci = np.nonzero(mask)
            yield pa.RecordBatch.from_pydict(
                {
                    "id_a": pa.array(bids[bi], pa.int64()),
                    "id_b": pa.array(all_ids[ci], pa.int64()),
                    "cos": pa.array(np.round(sims[bi, ci], sim_decimals), pa.float64()),
                }
            )

    return emb_df.select(id_col, vec_col).mapInArrow(run, "id_a long, id_b long, cos double")


def exact_cosine_pairs_blocked(
    emb_df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
    n_blocks: int | None = None,
    task_budget_bytes: int = 64 << 20,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold with NO driver collect and no
    full-corpus broadcast: the block-pair self-join.

    Rows hash into B blocks (pmod(xxhash64(id), B)); each row is
    replicated to the B block-pairs containing its block (an explode,
    stays in codegen), and each (bi, bj) group runs one dense gemm over
    its two blocks.  Cross pairs are emitted only by their (bi < bj)
    group and within-block pairs only by the diagonal (bi == bj) group,
    so every qualifying pair appears exactly once.  Shuffle volume is
    n x B rows; a task materializes at most two blocks
    (~2 n d 8 / B bytes) regardless of total n — the O(n^2) compute is
    inherent to the exact semantics, but nothing ever funnels through
    the driver.  ``n_blocks=None`` sizes B so two blocks fit in
    ``task_budget_bytes`` (capped at 64 to bound replication).
    """
    if n_blocks is None:
        n = emb_df.count()
        first = emb_df.select(F.size(F.col(vec_col)).alias("d")).first()
        d = int(first["d"]) if first and first["d"] is not None else 1
        n_blocks = int(max(2, min(64, -(-2 * n * max(d, 1) * 8 // task_budget_bytes))))
    B = int(n_blocks)
    tagged = emb_df.select(
        F.col(id_col),
        F.col(vec_col),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("_blk"),
    )
    replicated = tagged.select(
        id_col,
        vec_col,
        "_blk",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(B - 1)),
                lambda o: F.struct(
                    F.least(F.col("_blk"), o).alias("bi"),
                    F.greatest(F.col("_blk"), o).alias("bj"),
                ),
            )
        ).alias("_bp"),
    ).select(
        id_col, vec_col, "_blk",
        F.col("_bp.bi").alias("_bi"), F.col("_bp.bj").alias("_bj"),
    )

    def pairs_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(key[0]), int(key[1])
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = _normalize(np.stack(pdf[vec_col].apply(np.asarray).to_numpy()).astype(np.float64))
        blk = pdf["_blk"].to_numpy()
        if bi == bj:
            sims = mat @ mat.T
            ia, ib = np.triu_indices(len(ids), k=1)
            keep = sims[ia, ib] >= threshold
            a, b, s = ids[ia[keep]], ids[ib[keep]], sims[ia, ib][keep]
        else:
            sel_a, sel_b = blk == bi, blk == bj
            ida, idb = ids[sel_a], ids[sel_b]
            sims = mat[sel_a] @ mat[sel_b].T
            ai, bi2 = np.nonzero(sims >= threshold)
            a, b, s = ida[ai], idb[bi2], sims[ai, bi2]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {
                "id_a": lo.astype(np.int64),
                "id_b": hi.astype(np.int64),
                "cos": np.round(s, sim_decimals).astype(np.float64),
            }
        )

    return replicated.groupBy("_bi", "_bj").applyInPandas(
        pairs_fn, "id_a long, id_b long, cos double"
    )


def hyperplane_buckets(
    emb_df: DataFrame,
    bits: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1,
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector (sign-bit signature)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        planes = None
        for batch in batches:
            ids = batch.column(0)
            mat = _as_matrix(batch.column(1))
            if mat.size == 0:
                continue
            if planes is None:
                rng = np.random.default_rng(int(derive_seeds(seed, "hyperplane", 1)[0]) % 2**32)
                planes = rng.standard_normal((mat.shape[1], bits))
            signs = (mat @ planes) > 0
            bucket = signs @ (1 << np.arange(bits, dtype=np.int64))
            yield pa.RecordBatch.from_pydict(
                {id_col: ids, "bucket": pa.array(bucket.astype(np.int64))}
            )

    return long_ids(emb_df, id_col).select(id_col, vec_col).mapInArrow(run, f"{id_col} long, bucket long")


def lsh_bucket_topk(
    emb_df: DataFrame,
    queries: dict[int, np.ndarray],
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: restrict the exact kernel to vectors whose
    hyperplane bucket is within ``probe_hamming`` of the query's."""
    rng = np.random.default_rng(int(derive_seeds(seed, "hyperplane", 1)[0]) % 2**32)
    qitems = sorted(queries.items())
    dim = len(qitems[0][1])
    planes = rng.standard_normal((dim, bits))
    probe_buckets: set[int] = set()
    for _qid, vec in qitems:
        b = int(((np.asarray(vec, dtype=np.float64) @ planes) > 0) @ (1 << np.arange(bits, dtype=np.int64)))
        probe_buckets.add(b)
        if probe_hamming >= 1:
            for bit in range(bits):
                probe_buckets.add(b ^ (1 << bit))
    buckets = hyperplane_buckets(emb_df, bits, None, id_col, vec_col, seed)
    candidates = (
        emb_df.join(buckets, id_col)
        .filter(F.col("bucket").isin(list(probe_buckets)))
        .drop("bucket")
    )
    return cosine_topk(candidates, queries, k, id_col, vec_col)


def ivf_centroids(
    emb_df: DataFrame,
    n_cells: int = 16,
    sample: int = 4096,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1,
) -> np.ndarray:
    """Deterministic IVF coarse quantizer: Lloyd k-means on a
    driver-side sample (sample ordered by id -> reproducible), spherical
    (centroids renormalized) since the metric is cosine."""
    rows = emb_df.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    mat = _normalize(np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows]))
    rng = np.random.default_rng(int(derive_seeds(seed, "ivf", 1)[0]) % 2**32)
    cents = mat[rng.choice(len(mat), size=min(n_cells, len(mat)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(mat @ cents.T, axis=1)
        for c in range(len(cents)):
            members = mat[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents = _normalize(cents)
    return cents


def ivf_assign(
    emb_df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) assignment — one gemm per Arrow batch.  At real scale
    this is written once as a partition column so probes prune at the
    scan (Iceberg bucize/identity partitioning on ``cell``)."""
    spark = emb_df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cents = bc.value
        for batch in batches:
            ids = batch.column(0)
            mat = _as_matrix(batch.column(1))
            if mat.size == 0:
                continue
            cell = np.argmax(_normalize(mat) @ cents.T, axis=1)
            yield pa.RecordBatch.from_pydict(
                {id_col: ids, "cell": pa.array(cell.astype(np.int64))}
            )

    return long_ids(emb_df, id_col).select(id_col, vec_col).mapInArrow(run, f"{id_col} long, cell long")


def ivf_topk(
    emb_df: DataFrame,
    queries: dict[int, np.ndarray],
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` nearest
    cells; the exact kernel runs only on vectors assigned there.  Same
    output schema as ``cosine_topk``; recall < 1 by construction
    (tested against brute force)."""
    if centroids is None:
        centroids = ivf_centroids(emb_df, n_cells, id_col=id_col, vec_col=vec_col, seed=seed)
    probe: set[int] = set()
    for _qid, vec in sorted(queries.items()):
        v = np.asarray(vec, dtype=np.float64)
        v = v / (np.linalg.norm(v) or 1.0)
        sims = centroids @ v
        probe.update(int(c) for c in np.argsort(-sims)[:nprobe])
    assigned = ivf_assign(emb_df, centroids, id_col, vec_col)
    candidates = (
        emb_df.join(assigned, id_col)
        .filter(F.col("cell").isin(sorted(probe)))
        .drop("cell")
    )
    return cosine_topk(candidates, queries, k, id_col, vec_col)


_ANN_META_DIR = "_ann_meta"  # underscore prefix: invisible to Spark/parquet discovery


def build_ann_index(
    emb_df: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1,
    kind: str = "ivf",
    bits: int = 8,
    centroids: np.ndarray | None = None,
    train: str = "sample",
) -> np.ndarray | None:
    """Write a STORED ann index: (id, vec) rows laid out on disk
    partitioned by the coarse cell, so probe-side readers scan only the
    ``nprobe`` partitions they need (PartitionFilters at the parquet
    scan — pinned in tests/test_plan_guards.py).  This is the path the
    ``ivf_assign`` docstring promises: at real scale the same write is
    an Iceberg ``PARTITIONED BY (identity(cell))`` table; parquet
    ``partitionBy`` gives the identical pruned scan in the sandbox.

    kind="ivf": cell = nearest spherical-k-means centroid (cosine).
      Centroids persist to ``path/_ann_meta/centroids.parquet`` (an
      underscore-prefixed sidecar Spark readers ignore) so probes
      re-derive nothing; returns the centroid matrix.
    kind="hyperplane": cell = sign-bit bucket from seed-derived random
      hyperplanes — nothing to store (the seed regenerates the planes);
      returns None.

    train="sample" (default) fits the quantizer on a bounded
    driver-side sample (``ivf_centroids`` — fine for a coarse
    quantizer); train="full" runs distributed spherical k-means over
    EVERY vector (operators/clustering.kmeans_fit: one mapInArrow
    partial-sum pass per iteration, driver holds only k x d), the
    right call when cells must balance against the true distribution.

    The write is one assignment pass (gemm per Arrow batch) + one
    shuffle-free ``partitionBy`` write; no driver materialization of
    the corpus.
    """
    import os

    import pyarrow.parquet as pq

    emb_df = long_ids(emb_df, id_col)
    if kind == "ivf":
        if centroids is None:
            if train == "full":
                from .clustering import kmeans_fit

                centroids = kmeans_fit(
                    emb_df, k=n_cells, iters=8, id_col=id_col,
                    vec_col=vec_col, spherical=True,
                )
            else:
                centroids = ivf_centroids(
                    emb_df, n_cells, id_col=id_col, vec_col=vec_col, seed=seed
                )
    elif kind != "hyperplane":
        raise ValueError(f"unknown index kind {kind!r}")
    spark = emb_df.sparkSession
    bc = spark.sparkContext.broadcast(centroids if kind == "ivf" else None)
    vec_type = emb_df.schema[vec_col].dataType.simpleString()

    # single Arrow pass: the cell rides along with (id, vec) — no join,
    # no shuffle before the partitioned write
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cents = bc.value
        planes = None
        for batch in batches:
            mat = _as_matrix(batch.column(1))
            if mat.size == 0:
                continue
            if kind == "ivf":
                cell = np.argmax(_normalize(mat) @ cents.T, axis=1)
            else:
                if planes is None:
                    rng = np.random.default_rng(
                        int(derive_seeds(seed, "hyperplane", 1)[0]) % 2**32
                    )
                    planes = rng.standard_normal((mat.shape[1], bits))
                cell = ((mat @ planes) > 0) @ (1 << np.arange(bits, dtype=np.int64))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), pa.array(cell.astype(np.int64))],
                [id_col, vec_col, "cell"],
            )

    (
        emb_df.select(id_col, vec_col)
        .mapInArrow(run, f"{id_col} long, {vec_col} {vec_type}, cell long")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    if kind == "ivf":
        meta_dir = os.path.join(path, _ANN_META_DIR)
        os.makedirs(meta_dir, exist_ok=True)
        cents = np.asarray(centroids, dtype=np.float64)
        tbl = pa.table(
            {
                "cell": pa.array(np.arange(len(cents), dtype=np.int64)),
                "centroid": pa.array(list(cents), pa.list_(pa.float64())),
            }
        )
        pq.write_table(tbl, os.path.join(meta_dir, "centroids.parquet"))
        return cents
    return None


def load_ann_centroids(path: str) -> np.ndarray:
    """Centroid matrix from a ``build_ann_index(kind='ivf')`` sidecar."""
    import os

    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(path, _ANN_META_DIR, "centroids.parquet"))
    order = np.argsort(tbl.column("cell").to_numpy())
    return np.stack(
        [np.asarray(v) for v in tbl.column("centroid").to_pylist()]
    )[order]


def _probe_indexed(
    spark,
    path: str,
    cells: list[int],
    queries: dict[int, np.ndarray],
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Read ONLY the probed cells of a stored index — `cell` is a
    partition column, so the IN-filter becomes PartitionFilters at the
    scan and unprobed partitions are never opened."""
    df = spark.read.parquet(path).filter(F.col("cell").isin(sorted(cells))).drop("cell")
    return cosine_topk(df, queries, k, id_col, vec_col)


def ivf_topk_indexed(
    spark,
    path: str,
    queries: dict[int, np.ndarray],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over a STORED index: identical output to ``ivf_topk``
    with the same centroids (equality pinned in pytest), but the
    candidate scan reads only the ``nprobe`` nearest cell partitions
    instead of assigning the whole corpus per query batch."""
    cents = load_ann_centroids(path)
    probe: set[int] = set()
    for _qid, vec in sorted(queries.items()):
        v = np.asarray(vec, dtype=np.float64)
        v = v / (np.linalg.norm(v) or 1.0)
        probe.update(int(c) for c in np.argsort(-(cents @ v))[:nprobe])
    return _probe_indexed(spark, path, sorted(probe), queries, k, id_col, vec_col)


def lsh_topk_indexed(
    spark,
    path: str,
    queries: dict[int, np.ndarray],
    k: int = 5,
    bits: int = 8,
    seed: int = 1,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hyperplane-LSH top-k over a STORED ``kind='hyperplane'`` index:
    same semantics as ``lsh_bucket_topk`` but the Hamming<=r probe set
    prunes to bucket partitions at the scan.  ``probe_hamming >= bits``
    probes every bucket — one full partitioned scan, EXACT top-k (the
    oracle mode of ``ivf_topk_exact``'s hyperplane twin)."""
    rng = np.random.default_rng(int(derive_seeds(seed, "hyperplane", 1)[0]) % 2**32)
    dim = len(next(iter(sorted(queries.items())))[1])
    planes = rng.standard_normal((dim, bits))
    if probe_hamming >= bits:
        return _probe_indexed(
            spark, path, list(range(1 << bits)), queries, k, id_col, vec_col
        )
    probe: set[int] = set()
    for _qid, vec in sorted(queries.items()):
        b = int(
            ((np.asarray(vec, dtype=np.float64) @ planes) > 0)
            @ (1 << np.arange(bits, dtype=np.int64))
        )
        probe.add(b)
        if probe_hamming >= 1:
            for bit in range(bits):
                probe.add(b ^ (1 << bit))
    return _probe_indexed(spark, path, sorted(probe), queries, k, id_col, vec_col)


def embedding_near_duplicates(
    emb_df: DataFrame,
    threshold: float = 0.95,
    bits: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1,
    max_bucket: int = 1000,
    n_tables: int = 1,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold) within
    hyperplane buckets — the embedding analogue of MinHash-LSH dedup.

    ``n_tables`` OR-amplifies recall: pairs are unioned across L
    independent hyperplane tables (deduped on (id_a, id_b)), so a pair
    at angle theta is found with prob 1-(1-(1-theta/pi)^bits)^L instead
    of the single-table (1-theta/pi)^bits — the standard recall dial,
    at L x the bucketing cost and the same per-bucket cap.
    """
    if n_tables > 1:
        out = None
        for t in range(n_tables):
            part = embedding_near_duplicates(
                emb_df, threshold, bits, id_col, vec_col,
                seed + 7919 * t, max_bucket, n_tables=1,
            )
            out = part if out is None else out.unionByName(part)
        return out.groupBy("id_a", "id_b").agg(F.max("cos").alias("cos"))
    buckets = hyperplane_buckets(emb_df, bits, None, id_col, vec_col, seed)
    with_b = emb_df.join(buckets, id_col)

    def pairs_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"), "cos": pd.Series(dtype="float64")})
        pdf = pdf.sort_values(id_col).head(max_bucket)
        ids = pdf[id_col].to_numpy()
        mat = _normalize(np.stack(pdf[vec_col].apply(np.asarray).to_numpy()).astype(np.float64))
        sims = mat @ mat.T
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = sims[ia, ib] >= threshold
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "cos": np.round(sims[ia, ib][keep], 6)}
        )

    return with_b.groupBy("bucket").applyInPandas(pairs_fn, "id_a long, id_b long, cos double")


def cosine_sim_col(a, b):
    """Cosine similarity of two array<float/double> columns as a PURE
    Catalyst expression (zip_with products + aggregate sums — stays in
    codegen, no Python).  The numpy-gemm mapInArrow kernels above are
    the batch paths; this column form is for row-level joins/filters
    where a per-pair expression composes better (e.g. verifying a small
    candidate join entirely JVM-side)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: u.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    na = F.sqrt(dot(ca, ca))
    nb = F.sqrt(dot(cb, cb))
    return dot(ca, cb) / F.greatest(na * nb, F.lit(1e-300))


def semantic_dedup_report(
    emb_df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "blocked",
    n_blocks: int | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """(id, cluster, cluster_size, keep): SemDeDup-style semantic
    deduplication — documents whose embeddings sit within cosine
    ``threshold`` of each other collapse into connected-component
    clusters, and one representative (smallest id = the cluster label)
    is kept per cluster.  Near-dup pairs that whole-text dedup misses
    (paraphrases, translations, re-renders) share a cluster here.

    Composition of two already-hardened pieces: the block-pair exact
    cosine join (no driver collect, no corpus broadcast — exact at any
    n the O(n^2/B) compute is affordable at) and min-id label
    propagation over the candidate-scale edge set
    (``propagate_min_labels``).  When exact all-pairs is unaffordable,
    pass ``pairs=embedding_near_duplicates(emb, threshold, n_tables=L)``
    — hyperplane-LSH bucketed pairs with OR-amplified recall — and the
    whole composition stays bucketed end to end (measured at 500k
    vectors in BENCH.md).  The final shuffles are corpus-scale but
    carry only (id, label) rows.
    """
    from .dedup import propagate_min_labels

    if pairs is None:
        pairs = exact_cosine_pairs(
            emb_df, threshold, id_col, vec_col, strategy=strategy, n_blocks=n_blocks
        )
    pairs = pairs.select("id_a", "id_b")
    labels = propagate_min_labels(pairs)
    labeled = (
        emb_df.select(F.col(id_col))
        .join(labels.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col, F.coalesce("label", F.col(id_col)).alias("cluster")
        )
    )
    sizes = labeled.groupBy("cluster").agg(F.count("*").alias("cluster_size"))
    return labeled.join(sizes, "cluster").select(
        id_col,
        F.col("cluster").cast("long").alias("cluster"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
        (F.col(id_col) == F.col("cluster")).alias("keep"),
    )


def incremental_semantic_dedup(
    new_df: DataFrame,
    index_path: str,
    threshold: float = 0.85,
    nprobe: int | str = "all",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
) -> DataFrame:
    """(id_new, id_old, cos): embedding near-duplicates between a NEW
    batch of vectors and a STORED ``build_ann_index(kind='ivf')``
    corpus — the embedding analogue of the text-side
    ``incremental_near_duplicates`` (same daily-dump pattern: index the
    corpus once, probe every new crawl; nothing about the corpus is
    recomputed).

    Each new vector probes its ``nprobe`` nearest coarse cells (by
    centroid cosine); the index scan reads ONLY those cell partitions
    (PartitionFilters, same pruned layout ``ivf_topk_indexed`` uses).
    ``nprobe="all"`` probes every cell — still one partitioned scan,
    but EXACT: this is the contract-oracle mode, while small ``nprobe``
    is the 10^12-scale mode whose recall is governed by the quantizer
    (an exact duplicate always lands in its original's cell, so true
    twins survive any nprobe >= 1 up to centroid ties).

    Plan shape: the batch side is batch-scale x nprobe rows; old
    vectors are read once each and joined by cell; cosine runs as one
    numpy gemm per cell group (few/large groups — the only regime
    where applyInPandas' ~1 ms/group overhead amortizes; BENCH.md),
    values rounded at source to match the
    DuckDB ``list_cosine_similarity`` oracle.
    """
    import pandas as pd

    new_df = long_ids(new_df, id_col)
    spark = new_df.sparkSession
    cents = load_ann_centroids(index_path)
    k_cells = len(cents)
    n_probe = k_cells if nprobe == "all" else min(int(nprobe), k_cells)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    bc = spark.sparkContext.broadcast(cn)
    vec_type = new_df.schema[vec_col].dataType.simpleString()

    def assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cmat = bc.value
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            mat = _as_matrix(batch.column(1))
            if mat.size == 0:
                continue
            sims = _normalize(mat) @ cmat.T  # (b, K)
            # deterministic probe order (sim desc, cell asc) via the
            # O(K) boundary cut — not a full per-row sort of all cells
            probes = _topk_cells(sims, n_probe)  # (b, nprobe)
            b_idx = np.repeat(np.arange(len(ids)), n_probe)
            yield pa.RecordBatch.from_pydict(
                {
                    id_col: pa.array(ids[b_idx], pa.int64()),
                    vec_col: batch.column(1).take(pa.array(b_idx)),
                    "cell": pa.array(probes.ravel(), pa.int64()),
                }
            )

    new_probed = new_df.select(id_col, vec_col).mapInArrow(
        assign, f"{id_col} long, {vec_col} {vec_type}, cell long"
    ).withColumn("is_new", F.lit(1))

    old = spark.read.parquet(index_path)
    if n_probe < k_cells:
        # pruned mode references the assignment pass twice (the probed-
        # cell collect AND the union): materialize the batch-scale
        # result once (all-cells mode has a single reference — skip)
        new_probed = new_probed.localCheckpoint(eager=True)
        probed_cells = [
            r.cell for r in new_probed.select("cell").distinct().collect()
        ]
        old = old.filter(F.col("cell").isin(sorted(probed_cells)))
    old = old.select(id_col, vec_col, "cell").withColumn("is_new", F.lit(0))

    both = new_probed.unionByName(old)
    out_schema = "id_new long, id_old long, cos double"

    def pairs_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        new_part = pdf[pdf.is_new == 1]
        old_part = pdf[pdf.is_new == 0]
        if new_part.empty or old_part.empty:
            return pd.DataFrame(
                {
                    "id_new": pd.Series(dtype="int64"),
                    "id_old": pd.Series(dtype="int64"),
                    "cos": pd.Series(dtype="float64"),
                }
            )
        nm = _normalize(
            np.stack(new_part[vec_col].apply(np.asarray).to_numpy()).astype(np.float64)
        )
        om = _normalize(
            np.stack(old_part[vec_col].apply(np.asarray).to_numpy()).astype(np.float64)
        )
        sims = nm @ om.T
        ia, ib = np.nonzero(sims >= threshold)
        return pd.DataFrame(
            {
                "id_new": new_part[id_col].to_numpy()[ia],
                "id_old": old_part[id_col].to_numpy()[ib],
                "cos": np.round(sims[ia, ib], sim_decimals),
            }
        )

    return both.groupBy("cell").applyInPandas(pairs_fn, out_schema)
