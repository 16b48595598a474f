"""Structured Streaming sketch maintenance.

Because every sketch state is mergeable, incremental maintenance falls
out of the batch design for free (SURVEY.md §1.3): each micro-batch
builds partials with the same ``build_partials`` operator and merges
them into a persisted state table inside ``foreachBatch`` — the
streaming analogue of the reference's chunked double-buffered pipeline
(/root/reference/src/sketch.cu:349-412), with Spark's checkpointing
replacing the hand-rolled carry-over buffers.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from ..operators.aggregate import SketchResult, SketchSpec, build_partials, merge_partials


def epoch_applied(state_dir: str, epoch_id: int) -> bool:
    """True iff this epoch's fold already committed (replay guard)."""
    marker = os.path.join(state_dir, "last_epoch")
    if not os.path.exists(marker):
        return False
    try:
        return int(open(marker).read().strip()) >= epoch_id
    except ValueError:
        return False


def commit_epoch(state_dir: str, epoch_id: int) -> None:
    """Durably record the highest folded epoch (atomic tmp+rename)."""
    marker = os.path.join(state_dir, "last_epoch")
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(epoch_id))
    os.replace(tmp, marker)


def _fold_epoch(
    batch_df: DataFrame,
    specs: list[SketchSpec],
    state_dir: str,
    epoch_id: int,
    group_cols: list[str],
    spread_small_inputs: bool = True,
) -> None:
    """Fold one micro-batch into ``<state_dir>/current``: build and
    merge its partials, merge them with the current states, stage the
    result under ``epoch-<id>`` and swap it in.  The caller guards the
    epoch (``epoch_applied``) and commits it (``commit_epoch``)."""
    spark = batch_df.sparkSession
    partials = build_partials(batch_df, specs, group_cols, spread_small_inputs=spread_small_inputs)
    merged = merge_partials(partials, group_cols, two_level=False)
    prev_path = os.path.join(state_dir, "current")
    new = merged
    if os.path.exists(prev_path):
        prev = spark.read.parquet(prev_path).select(*merged.columns)
        new = merge_partials(prev.unionByName(merged), group_cols, two_level=False)
    tmp = os.path.join(state_dir, f"epoch-{epoch_id}")
    new.write.mode("overwrite").parquet(tmp)
    # atomic-ish swap: rewrite current from the epoch result
    spark.read.parquet(tmp).write.mode("overwrite").parquet(prev_path)
    shutil.rmtree(tmp, ignore_errors=True)  # staging dir, no longer needed


def streaming_sketch_query(
    stream_df: DataFrame,
    specs: list[SketchSpec],
    state_dir: str,
    checkpoint_dir: str,
    group_cols: list[str] | None = None,
    trigger: dict | None = None,
):
    """Start a streaming query that folds each micro-batch's sketch
    partials into a parquet state table at ``state_dir``.

    Returns the StreamingQuery.  ``trigger`` is passed through to
    ``writeStream.trigger(**trigger)`` — ``{"availableNow": True}``
    for a self-terminating batch-drain (awaitTermination returns once
    the backlog is folded), ``{"processingTime": "..."}`` for
    continuous maintenance, ``None`` for the default continuous
    micro-batch trigger (stop via processAllAvailable + stop).  Read
    the current global state back with ``read_state``.
    """
    group_cols = list(group_cols or [])

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        # foreachBatch is at-least-once: a crash after the state swap
        # but before the offset commit re-delivers the same epoch_id on
        # restart, and re-folding it would double-count every token.
        # The epoch marker makes the fold idempotent per epoch.
        if epoch_applied(state_dir, epoch_id):
            return
        _fold_epoch(batch_df, specs, state_dir, epoch_id, group_cols)
        commit_epoch(state_dir, epoch_id)

    writer = (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def read_state(spark, state_dir: str, spec_name: str, *group_vals):
    """Load the merged sketch for ``spec_name`` from the state table."""
    df = spark.read.parquet(os.path.join(state_dir, "current"))
    # the partial-state layout: group columns, then spec, state, ...
    group_cols = df.columns[: df.columns.index("spec")]
    rows = df.filter(df.spec == spec_name).collect()
    try:
        return SketchResult([r.asDict() for r in rows], group_cols).sketch(spec_name, *group_vals)
    except KeyError:
        raise KeyError(f"no state for {spec_name} {group_vals}") from None
