"""Streaming ingest dedup: drop already-seen content as pages arrive.

The streaming half of the training-data dedup battery (operators/dedup
covers the batch side): exact content-hash dedup with watermark-bounded
state, so a continuous crawl ingest keeps one copy of each page without
unbounded state growth — Spark evicts dedup state older than the
watermark horizon (duplicate web content overwhelmingly re-arrives
within a bounded window; the batch `dedup_corpus` pass catches the
long tail across horizons).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = [
    "streaming_exact_dedup",
    "init_near_dedup_index",
    "streaming_near_dedup",
    "make_near_dedup_fold",
    "read_stream_pairs",
    "read_index_docs",
]


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    time_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """First arrival per content hash within the watermark horizon.

    Uses ``dropDuplicatesWithinWatermark`` so the dedup state table is
    bounded by the horizon instead of growing with the corpus —
    the streaming-safe restatement of ``exact_dedup``'s groupBy.  The
    content hash is ``md5(text)`` (JVM-side), matching the batch
    operator and its DuckDB oracle.
    """
    return (
        stream_df.withColumn("content_md5", F.md5(F.col(text_col)))
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["content_md5"])
    )


# ---------------------------------------------------------------------------
# streaming NEAR-dup dedup against a persisted, growing MinHash index
# ---------------------------------------------------------------------------
_META = "meta.json"


def init_near_dedup_index(
    base_df: DataFrame,
    root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 3,
    seed: int = 1,
    bands: int = 16,
) -> dict:
    """Seed a streaming near-dedup index from an existing corpus.

    Layout (every path epoch-partitioned so micro-batch replays are
    idempotent overwrites — the lesson from the emerging-stream
    seen-history fix, ADVICE r2):

    * ``root/keys/epoch=0``  — base corpus LSH band keys (id, band, bucket)
    * ``root/docs/epoch=0``  — base (id, text) for exact-Jaccard verify
    * ``root/meta.json``     — hash-family parameters

    Streaming batches land at ``epoch=<batch+1>``; reading ``root/keys``
    (or ``docs``/``pairs``) recovers the union across epochs via
    partition discovery.  At real scale each path maps onto an Iceberg
    table partitioned by epoch, and the key layout is identical to
    ``write_minhash_index`` — same band machinery, same probe join.
    """
    from ..operators.dedup import lsh_band_keys, minhash_signatures

    meta = {
        "version": 1,
        "id_col": id_col,
        "text_col": text_col,
        "num_perm": num_perm,
        "shingle_k": shingle_k,
        "seed": seed,
        "bands": bands,
    }
    sigs = minhash_signatures(base_df, id_col, text_col, num_perm, shingle_k, seed)
    keys = lsh_band_keys(sigs, id_col, bands)
    keys.write.mode("overwrite").parquet(os.path.join(root, "keys", "epoch=0"))
    base_df.select(id_col, text_col).write.mode("overwrite").parquet(
        os.path.join(root, "docs", "epoch=0")
    )
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, _META), "w") as f:
        json.dump(meta, f)
    return meta


def streaming_near_dedup(
    stream_df: DataFrame,
    root: str,
    threshold: float = 0.5,
    update_index: bool = True,
    within_batch: bool = True,
    checkpoint: str | None = None,
    trigger: dict | None = None,
    max_bucket: int = 200,
):
    """Continuous-crawl near-dup dedup: every micro-batch is probed
    against the persisted band-key index (corpus signatures NEVER
    recomputed), matches are appended to an epoch-partitioned pair log,
    and the batch's surviving representatives extend the index — the
    streaming restatement of ``incremental_near_duplicates`` with the
    daily-dump loop folded into ``foreachBatch``.  Returns the started
    ``StreamingQuery``.

    Per micro-batch ``B`` (epoch ``e``, writes land at ``epoch=e+1``):

    1. ``within_batch``: collapse duplicate clusters INSIDE ``B``
       (MinHash pairs -> min-label components, smallest id represents),
       logging the within pairs at ``root/pairs_within/epoch=e+1``.
    2. Probe the representatives against ALL indexed epochs via
       ``near_duplicates_against_keys``; matches land at
       ``root/pairs/epoch=e+1`` as (id_new, id_old, jaccard).
    3. ``update_index``: representatives with no index match append
       their band keys and text at ``keys|docs/epoch=e+1``, so LATER
       batches dedup against earlier stream survivors too.

    Crash safety: all three writes are per-epoch overwrites, so a
    replayed micro-batch rewrites its own directories byte-identically
    instead of duplicating state.  Semantics note: arrival order is
    greedy (a doc dropped against an earlier survivor never enters the
    index), which matches batch ``dedup_corpus`` exactly when the
    duplicate relation is transitive on the corpus (tested); chains
    that are near-dups only pairwise can differ, as with any
    incremental dedup.  One stream lifetime per index generation:
    epochs restart at 0 for a fresh checkpoint, so re-seed the index
    (or keep the checkpoint) when restarting — ENFORCED: batch 0 of a
    fresh checkpoint fails fast if epoch directories from a previous
    generation remain under the root.

    Resource note for long-lived streams: the within-batch MinHash
    pass persists its signature table per epoch (the materialize-once
    rule); those caches become dead weight once the epoch's outputs
    are checkpointed and are evicted LRU under storage-memory
    pressure, so growth is bounded by executor storage, not by stream
    lifetime.
    """
    checkpoint = checkpoint or os.path.join(root, "_checkpoint")
    fold = make_near_dedup_fold(
        root, threshold, update_index, within_batch, max_bucket
    )
    writer = (
        stream_df.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start()


def _stale_epochs_beyond(root: str, max_ok: int) -> set[str]:
    """Epoch partition directories numbered above ``max_ok`` under any
    of the index subpaths (relative paths, for the error message)."""
    stale: set[str] = set()
    for sub in ("keys", "docs", "pairs", "pairs_within"):
        base = os.path.join(root, sub)
        if not os.path.isdir(base):
            continue
        for name in os.listdir(base):
            if name.startswith("epoch="):
                try:
                    num = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if num > max_ok:
                    stale.add(f"{sub}/{name}")
    return stale


def make_near_dedup_fold(
    root: str,
    threshold: float = 0.5,
    update_index: bool = True,
    within_batch: bool = True,
    max_bucket: int = 200,
):
    """The per-micro-batch fold behind ``streaming_near_dedup``,
    exposed so tests can drive epochs with controlled batch
    composition and replay an epoch to pin idempotency.  Signature is
    foreachBatch's: ``fold(batch_df, epoch_id)``.

    Replay correctness: the index reads prune to ``epoch <= epoch_id``
    (partition filter), so a batch replayed after a crash that already
    wrote its own ``epoch_id + 1`` directories never sees its own
    output — without the filter a replayed doc would match ITSELF in
    the index and be dropped, emptying the epoch on rewrite.  The same
    filter is what makes each epoch a pure function of the committed
    prefix, hence the byte-stable overwrite."""
    from ..operators.dedup import (
        lsh_band_keys,
        minhash_near_duplicates,
        minhash_signatures,
        near_duplicates_against_keys,
        propagate_min_labels,
    )

    meta = json.load(open(os.path.join(root, _META)))
    id_col, text_col = meta["id_col"], meta["text_col"]

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = int(epoch_id) + 1
        if int(epoch_id) == 0:
            # Fresh-checkpoint start (epochs restart at 0): epoch dirs
            # beyond this batch's own epoch=1 can only be leftovers from
            # a PREVIOUS stream generation; partition discovery in
            # read_stream_pairs/read_index_docs would silently union
            # them, so refuse to run instead of documenting the caveat.
            # (epoch=1 itself is fine — a crash-replayed batch 0
            # overwrites it completely.)  A same-checkpoint resume
            # arrives with epoch_id > 0 and never hits this check.
            stale = _stale_epochs_beyond(root, 1)
            if stale:
                raise RuntimeError(
                    "index root has epoch directories from a previous "
                    f"stream generation: {sorted(stale)}; a fresh "
                    "checkpoint would silently union them into results. "
                    "Re-seed the index (init_near_dedup_index to a clean "
                    "root) or restart with the previous checkpoint."
                )
        # the batch is referenced by several downstream stages
        # (within-pairs, representatives, probe, survivors): cut the
        # file-source lineage once (an intermediate DF read 3+ times
        # re-executes its plan per reference otherwise; BENCH.md)
        batch = batch_df.select(id_col, text_col).localCheckpoint(eager=True)

        reps = batch
        if within_batch:
            within = minhash_near_duplicates(
                batch,
                id_col,
                text_col,
                meta["num_perm"],
                meta["bands"],
                meta["shingle_k"],
                threshold,
                meta["seed"],
            ).localCheckpoint(eager=True)
            within.write.mode("overwrite").parquet(
                os.path.join(root, "pairs_within", f"epoch={epoch}")
            )
            labels = propagate_min_labels(within.select("id_a", "id_b"))
            dropped = labels.filter(F.col("label") != F.col("id")).select(
                F.col("id").alias(id_col)
            )
            reps = batch.join(dropped, id_col, "left_anti")

        prior = F.col("epoch") < epoch  # replay-safe partition prune
        old_keys = spark.read.parquet(os.path.join(root, "keys")).filter(prior)
        old_docs = spark.read.parquet(os.path.join(root, "docs")).filter(prior)
        pairs = near_duplicates_against_keys(
            reps, old_keys, old_docs.drop("epoch"), meta, threshold,
            id_col, text_col, max_bucket,
        ).localCheckpoint(eager=True)
        pairs.write.mode("overwrite").parquet(
            os.path.join(root, "pairs", f"epoch={epoch}")
        )

        if update_index:
            survivors = reps.join(
                pairs.select(F.col("id_new").alias(id_col)).distinct(),
                id_col,
                "left_anti",
            ).localCheckpoint(eager=True)
            sigs = minhash_signatures(
                survivors,
                id_col,
                text_col,
                meta["num_perm"],
                meta["shingle_k"],
                meta["seed"],
            )
            lsh_band_keys(sigs, id_col, meta["bands"]).write.mode(
                "overwrite"
            ).parquet(os.path.join(root, "keys", f"epoch={epoch}"))
            survivors.select(id_col, text_col).write.mode("overwrite").parquet(
                os.path.join(root, "docs", f"epoch={epoch}")
            )

    return fold


def read_stream_pairs(spark: SparkSession, root: str, within: bool = False) -> DataFrame:
    """All logged near-dup pairs across epochs: (id_new, id_old,
    jaccard, epoch) — or the within-batch pair log (id_a, id_b,
    jaccard, epoch) with ``within=True``."""
    sub = "pairs_within" if within else "pairs"
    return spark.read.parquet(os.path.join(root, sub))


def read_index_docs(spark: SparkSession, root: str) -> DataFrame:
    """The deduped corpus the index currently represents (base + all
    stream survivors), with their arrival ``epoch``."""
    return spark.read.parquet(os.path.join(root, "docs"))
