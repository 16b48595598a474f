"""Streaming emerging heavy hitters: the flagship query maintained
continuously over a page stream.

Shape (the streaming restatement of operators/emerging.py's batch
plan, sketch job then one candidate job): each micro-batch folds its
CMCU partials into the persistent state table (same mergeable-state
machinery as ``streaming_sketch_query``), then re-evaluates the
emerging predicate against the CURRENT accumulated test sketch in one
candidate job over every page seen so far and the control window,
and writes one HH snapshot per epoch.  Because the accumulated sketch dominates every prefix,
each snapshot's candidate set is a superset of a streaming upsert's —
the same superset-correctness argument as the batch operator
(SURVEY.md §7.2), now applied per epoch.

The control side is a FIXED pre-built sketch/count table (the July
window), which matches the reference's semantics: control is a static
corpus, test is the stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..operators.aggregate import SketchSpec
from ..operators.emerging import emerging_heavy_hitters
from .sketch_stream import _fold_epoch, commit_epoch, epoch_applied, read_state


def streaming_emerging_hh(
    stream_df: DataFrame,
    control_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    snapshot_dir: str,
    text_col: str = "text",
    threshold: int = 100,
    growth: float = 2.0,
    depth: int = 4,
    log2_width: int = 14,
    seed: int = 1,
    mode: str = "exact",
    snapshot_every: int = 1,
):
    """Start the streaming flagship; every ``snapshot_every``-th epoch
    writes ``<snapshot_dir>/epoch=<n>`` with the current emerging-HH
    set.

    Cost honesty: the state fold is O(batch) per epoch, but each
    SNAPSHOT's exact-count pass re-scans the accumulated test rows in
    ``seen_dir`` (the sketch prunes which tokens shuffle, not which
    rows scan) — per-snapshot cost grows linearly with stream history,
    so for long streams raise ``snapshot_every`` (or partition
    ``seen_dir`` by arrival time and bound the re-verified window) to
    amortize; the final drained snapshot still equals the batch answer
    exactly.  Replays are safe: an at-least-once re-delivered epoch is
    skipped via the epoch marker instead of double-folded, and the
    seen-history write is epoch-named + overwrite so a replay that DOES
    re-enter the fold (crash between state swap and marker write)
    rewrites the same seen/epoch=<n> files idempotently rather than
    appending duplicate rows into every future exact-count snapshot.
    The residual window is therefore only the one-epoch sketch
    double-fold — a few milliseconds vs the whole fold; closing it
    entirely needs a transactional table format for the state, i.e.
    the Iceberg seam.
    """
    spec = SketchSpec(
        "cmcu", "cmcu", text_col, mode="tokens",
        params={"depth": depth, "log2_width": log2_width, "seed": seed},
    )
    seen_dir = os.path.join(state_dir, "seen")

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # replay guard: at-least-once re-delivery must not double-fold
        if epoch_applied(state_dir, epoch_id):
            return
        # 1. fold this batch's partials into the persistent state
        _fold_epoch(batch_df, [spec], state_dir, epoch_id, [], spread_small_inputs=False)
        # accumulate raw test rows for the exact second pass — written
        # to an EPOCH-NAMED directory in overwrite mode so a replayed
        # epoch rewrites the same files instead of appending duplicates
        # (an append here sat inside the crash window below: a crash
        # after the state swap but before commit_epoch would re-append
        # the batch on replay, and unlike the one-epoch sketch
        # double-fold those duplicate rows would permanently inflate
        # the exact-count pass of every future snapshot)
        batch_df.select(text_col).write.mode("overwrite").parquet(
            os.path.join(seen_dir, f"epoch={epoch_id}")
        )
        commit_epoch(state_dir, epoch_id)

        if snapshot_every > 1 and epoch_id % snapshot_every != 0:
            return
        # 2. snapshot the emerging set against the accumulated sketch
        sketch = read_state(spark, state_dir, "cmcu")
        # partition discovery over seen/epoch=N adds an `epoch` column;
        # the exact pass only needs the text
        seen = spark.read.parquet(seen_dir).select(text_col)
        hh = emerging_heavy_hitters(
            seen, control_df, text_col, threshold=threshold, growth=growth,
            depth=depth, log2_width=log2_width, seed=seed, mode=mode,
            prebuilt_sketch=sketch,
        )
        hh.write.mode("overwrite").parquet(
            os.path.join(snapshot_dir, f"epoch={epoch_id}")
        )

    return (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
