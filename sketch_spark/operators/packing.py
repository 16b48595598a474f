"""Sequence packing for LLM pre-training: concat-and-split accounting.

Training pipelines concatenate the corpus token stream in a canonical
document order and split it into fixed-size context windows; each
document needs its global token offset to know which window(s) it
lands in.  The global offset is a prefix sum over a total order — the
textbook case where the naive Spark plan (one global ``Window.orderBy``)
collapses to a single partition and dies at scale.

This module computes it as the classic two-pass distributed scan:

  1. bucket docs into contiguous id ranges with an *explicit* bucket id
     (``floor(id / ceil((max_id+1)/P))`` — deterministic, no
     RangePartitioner sampling, safe under task re-execution);
  2. per-bucket token totals (tiny: P rows) -> cumulative bucket
     offsets, joined back via broadcast;
  3. in-bucket prefix sum with ``Window.partitionBy(bucket)
     .orderBy(id)`` — sorts only within buckets.

Total cost: one scan + one P-row aggregate + one bucket-local sort; no
global sort, no single-partition stage.  Output is partitioning-
invariant (depends only on the id order), so the DuckDB oracle is a
plain windowed cumsum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..functions.text import tokens_col, tokens_sql
from .sampling import uniform_hash_col

__all__ = [
    "token_chunks",
    "global_prefix_sum",
    "shard_assignment",
    "shard_manifest",
    "shard_manifest_sql",
    "export_training_shards",
]


def global_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_col: str,
    out_col: str = "prefix",
    n_buckets: int | None = None,
) -> DataFrame:
    """Adds ``out_col`` = sum of ``value_col`` over all rows with a
    strictly smaller ``order_col`` (exclusive prefix sum over the total
    order), without a global sort.  ``order_col`` must be numeric,
    non-negative and unique per row."""
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = max(2, spark.sparkContext.defaultParallelism)
    max_id = df.agg(F.max(order_col).alias("m")).collect()[0]["m"]
    if max_id is None:
        return df.withColumn(out_col, F.lit(0).cast("long"))
    span = int(max_id) // n_buckets + 1
    b = df.withColumn("_bkt", (F.col(order_col) / F.lit(span)).cast("long"))
    totals = b.groupBy("_bkt").agg(F.sum(value_col).alias("_tot"))
    # P-row offset table: bounded_prefix_sum, not a cumulative global
    # Window — same exclusive sum, no unpartitioned-window WARN
    from .aggregate import bounded_prefix_sum

    offsets = bounded_prefix_sum(totals, "_bkt", "_tot", "_off").select(
        "_bkt", "_off"
    )
    # offsets is P rows — the broadcast join keeps the big side in place
    local = F.sum(value_col).over(
        W.partitionBy("_bkt").orderBy(order_col).rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        b.join(F.broadcast(offsets), "_bkt")
        .withColumn(
            out_col,
            (F.coalesce(local, F.lit(0)) + F.col("_off")).cast("long"),
        )
        .drop("_bkt", "_off")
    )


def token_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 2048,
) -> DataFrame:
    """Per-doc packing accounting for fixed-size context windows:
    (id, n_tokens, start_off, first_chunk, last_chunk, n_chunks) where
    the corpus token stream is the concatenation in ``id_col`` order
    and chunk ``c`` covers token offsets [c*L, (c+1)*L)."""
    counted = df.select(
        F.col(id_col),
        F.size(tokens_col(text_col)).cast("long").alias("n_tokens"),
    )
    with_off = global_prefix_sum(counted, "n_tokens", id_col, out_col="start_off")
    first = F.floor(F.col("start_off") / chunk_size).cast("long")
    last = F.floor((F.col("start_off") + F.col("n_tokens") - 1) / chunk_size).cast("long")
    return with_off.select(
        id_col,
        "n_tokens",
        "start_off",
        first.alias("first_chunk"),
        F.greatest(last, first).alias("last_chunk"),
        (F.greatest(last, first) - first + 1).alias("n_chunks"),
    )


# ---------------------------------------------------------------------------
# Deterministic training-shard export (WebDataset-style)
# ---------------------------------------------------------------------------
#
# Training pipelines want the cleaned corpus re-emitted as N shards in a
# reproducible GLOBAL shuffle order: shard files are the unit of both
# dataloader parallelism and resumption, so the assignment and the
# within-shard order must be pure functions of (seed, doc id) — never of
# Spark's physical partitioning, task retries, or `rand()`.  Reference
# analog: the reference emits one result file per run (sketch.cpp writes
# heavy-hitter output sequentially); at 10^12 docs the export itself has
# to be a parallel, restartable job, which is what this section adds.
#
# Scale shape: `shard_assignment` is map-only.  The manifest/export pay
# exactly ONE hash exchange on the shard id; within-shard rank is a
# window sort per shard, so n_shards is chosen to keep a shard at file
# size (0.5-4 GiB — same operating point as real WebDataset exports),
# which bounds per-task sort memory regardless of corpus size.  No
# global sort, no driver data path.  The manifest fingerprint is an
# order-SENSITIVE xor fold (md5 of (doc-content-md5, rank), folded with
# bit_xor) so it is computable in constant memory per shard AND
# reproducible in DuckDB for the value-hash oracle — a collect_list
# of per-doc hashes would be O(shard) task memory for the same signal.


def shard_assignment(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seed: int = 1,
    shard_col: str = "shard",
    order_col: str = "_ord",
) -> DataFrame:
    """Map-only deterministic global shuffle: ``shard_col`` =
    floor(u(seed, id) * n_shards) and ``order_col`` = u(seed+1, id),
    the within-shard training order.  Both are pure functions of
    (seed, id): stable under repartition, task re-execution, and AQE
    re-planning (a seeded ``rand()`` is none of these)."""
    u_shard = uniform_hash_col(id_col, seed)
    u_order = uniform_hash_col(id_col, seed + 1)
    return df.withColumn(
        shard_col, F.floor(u_shard * F.lit(n_shards)).cast("int")
    ).withColumn(order_col, u_order)


def _doc_rank_hash(doc_md5: Column, rank: Column) -> Column:
    """Order-sensitive 60-bit fold input: md5 of 'doc_md5:rank', first
    15 hex digits as a long (exact in 64 bits, mirrored in DuckDB)."""
    h = F.md5(F.concat_ws(":", doc_md5, rank.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def shard_manifest(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 1,
) -> DataFrame:
    """(shard, n_docs, n_tokens, fingerprint): the export manifest,
    computed WITHOUT writing — fingerprint = bit_xor over
    md5(content-md5 : within-shard-rank), i.e. it pins the exact doc
    set AND the exact training order of every shard in 8 bytes.
    Verifying a written shard against the manifest is a per-shard
    streaming pass (see ``export_training_shards``)."""
    a = shard_assignment(df, n_shards, id_col, seed)
    w = W.partitionBy("shard").orderBy(F.col("_ord").asc(), F.col(id_col).asc())
    ranked = a.select(
        "shard",
        F.col(id_col),
        "_ord",
        F.size(tokens_col(text_col)).cast("long").alias("_nt"),
        F.md5(F.col(text_col).cast("binary")).alias("_dh"),
    ).withColumn("_rank", F.row_number().over(w))
    return (
        ranked.withColumn("_fold", _doc_rank_hash(F.col("_dh"), F.col("_rank")))
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
            F.expr("bit_xor(_fold)").cast("long").alias("fingerprint"),
        )
        .orderBy("shard")
    )


def shard_manifest_sql(
    n_shards: int, table: str = "documents", id_col: str = "doc_id", seed: int = 1
) -> str:
    """DuckDB oracle for ``shard_manifest`` — identical md5-derived
    shard/order/fold expressions."""
    u = (
        "CAST(CAST('0x' || substr(md5('{seed}:' || CAST({id} AS VARCHAR)), 1, 8) "
        "AS UBIGINT) AS DOUBLE) / 4294967296.0"
    )
    u1 = u.format(seed=seed, id=id_col)
    u2 = u.format(seed=seed + 1, id=id_col)
    return f"""
        WITH a AS (
          SELECT {id_col}, text,
                 CAST(floor(({u1}) * {n_shards}) AS INT) AS shard,
                 ({u2}) AS _ord
          FROM {table}
        ), r AS (
          SELECT shard,
                 len({tokens_sql("text")}) AS _nt,
                 md5(text) AS _dh,
                 row_number() OVER (PARTITION BY shard
                                    ORDER BY _ord ASC, {id_col} ASC) AS _rank
          FROM a
        )
        SELECT shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(_nt) AS BIGINT) AS n_tokens,
               CAST(bit_xor(CAST('0x' || substr(md5(_dh || ':' || CAST(_rank AS VARCHAR)), 1, 15)
                    AS BIGINT)) AS BIGINT) AS fingerprint
        FROM r GROUP BY shard ORDER BY shard
    """


def export_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 1,
) -> DataFrame:
    """Write the corpus as ``path``/shard=K/ parquet in the
    deterministic shuffle order and return the manifest.  One
    repartition("shard") exchange (each task holds whole shards),
    sortWithinPartitions pins the row order inside every file —
    parquet preserves it, so a dataloader reading shard files
    sequentially replays exactly the manifest's order."""
    a = shard_assignment(df, n_shards, id_col, seed)
    (
        a.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "_ord", id_col)
        .drop("_ord")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return shard_manifest(df, n_shards, id_col, text_col, seed)
