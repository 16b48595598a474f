"""Sketch rollup tables: pre-aggregated per-time-bucket sketch states.

The production pattern for "distinct users last N days" / "heavy
hitters this week vs last month" at 100 TB: materialize one merged
sketch state per (time bucket, spec) ONCE, then answer any range query
by merging a handful of KB-scale states — no rescan of the raw data,
ever.  Works because every sketch here is an exact merge homomorphism
(CM/CMCU `+`, HLL `max`, Bloom `|`) or merge-stable within bound
(KLL/t-digest).

This is the hypertable/continuous-aggregate analogue for sketches, and
the natural extension of the reference's test-vs-control windows
(/root/reference/src/sketch.cpp:87-90): the two windows become
arbitrary bucket ranges over one rollup table.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, functions as F

from .aggregate import SketchResult, SketchSpec, build_partials, merge_partials

__all__ = ["build_sketch_rollup", "query_sketch_rollup", "rollup_emerging_heavy_hitters"]


def build_sketch_rollup(
    df: DataFrame,
    ts_col: str,
    specs: list[SketchSpec],
    out_dir: str,
    granularity: str = "day",
) -> str:
    """Materialize one merged sketch state per (bucket, spec) to a
    parquet table: bucket string, spec, state, n_rows, n_values.

    ``granularity``: any ``date_format`` pattern shorthand below.
    """
    fmt = {"day": "yyyy-MM-dd", "hour": "yyyy-MM-dd HH", "month": "yyyy-MM"}[granularity]
    bucketed = df.withColumn("_bucket", F.date_format(F.col(ts_col), fmt))
    partials = build_partials(bucketed, specs, group_cols=["_bucket"])
    merged = merge_partials(partials, ["_bucket"]).withColumnRenamed("_bucket", "bucket")
    merged.write.mode("overwrite").parquet(out_dir)
    return out_dir


def query_sketch_rollup(
    spark,
    rollup_dir: str,
    spec_name: str,
    start: str | None = None,
    end: str | None = None,
) -> object:
    """Merged sketch for ``spec_name`` over bucket range [start, end]
    (string-comparable bucket ids; None = unbounded).  Reads only the
    matching state rows — the raw data is never touched."""
    df = spark.read.parquet(rollup_dir).filter(F.col("spec") == spec_name)
    if start is not None:
        df = df.filter(F.col("bucket") >= start)
    if end is not None:
        df = df.filter(F.col("bucket") <= end)
    rows = df.select("spec", "state", "n_rows", "n_values").collect()
    if not rows:
        raise KeyError(f"no rollup states for {spec_name} in [{start}, {end}]")
    return SketchResult([r.asDict() for r in rows], []).sketch(spec_name)


def rollup_emerging_heavy_hitters(
    spark,
    rollup_dir: str,
    raw_df: DataFrame,
    ts_col: str,
    text_col: str,
    test_range: tuple[str, str],
    control_range: tuple[str, str],
    threshold: int,
    growth: float = 2.0,
    spec_name: str = "cmcu",
    mode: str = "reference",
) -> DataFrame:
    """Emerging heavy hitters between two arbitrary bucket ranges of a
    rollup table: the test-window sketch comes from merged rollup
    states (no rescan); only the candidate/control exact passes touch
    raw rows — and only inside the two ranges (partition-prunable)."""
    from .emerging import emerging_heavy_hitters

    sketch = query_sketch_rollup(spark, rollup_dir, spec_name, *test_range)
    fmt_col = F.date_format(F.col(ts_col), "yyyy-MM-dd")
    test_df = raw_df.filter(fmt_col.between(*test_range))
    ctrl_df = raw_df.filter(fmt_col.between(*control_range))
    return emerging_heavy_hitters(
        test_df,
        ctrl_df,
        text_col,
        threshold=threshold,
        growth=growth,
        mode=mode,
        prebuilt_sketch=sketch,
    )
