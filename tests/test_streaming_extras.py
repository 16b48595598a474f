"""Streaming coverage beyond foreachBatch: watermarked windowed
aggregation (late-data semantics)."""

import os

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events_stream_src(spark, sf001):
    return os.path.join(sf001, "events.parquet")


def test_watermarked_window_counts(spark, events_stream_src, tmp_path):
    schema = spark.read.parquet(events_stream_src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(os.path.dirname(events_stream_src))
    )
    # watermarks need TIMESTAMP (not NTZ); session TZ is pinned UTC so
    # the cast is value-preserving
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT date_format(window.start, 'yyyy-MM-dd') AS day, event_type, n FROM win_counts"
    ).toPandas()
    exact = (
        spark.read.parquet(events_stream_src)
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(F.count("*").alias("n"))
        .toPandas()
    )
    # append mode only emits windows the watermark has closed; every
    # emitted window must match the batch-exact count
    merged = got.merge(exact, on=["day", "event_type"], suffixes=("_s", "_b"))
    assert len(merged) == len(got)
    assert (merged.n_s == merged.n_b).all()
    assert len(got) > 0


def test_null_and_empty_text_robustness(spark):
    """Nulls and empty strings flow through the whole sketch path."""
    from sketch_spark.operators.aggregate import SketchSpec, sketch_aggregate

    rows = [(1, "a b c"), (2, None), (3, ""), (4, "   "), (5, "a a")]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(2)
    specs = [
        SketchSpec("cmcu", "cmcu", "text", params={"depth": 4, "log2_width": 10, "seed": 1}),
        SketchSpec("hll", "hll", "text", params={"p": 10, "seed": 1}),
    ]
    res = sketch_aggregate(df, specs)
    cm = res.sketch("cmcu")
    assert cm.total == 5  # a,b,c,a,a
    assert cm.estimate_tokens(["a"])[0] >= 3
    assert round(res.sketch("hll").estimate()) == 3


def test_streaming_exact_dedup(spark, pages_dir, tmp_path):
    """Streaming first-arrival dedup equals batch distinct-by-md5."""
    import os

    from pyspark.sql import functions as F

    from sketch_spark.streaming.dedup_stream import streaming_exact_dedup

    src = os.path.join(pages_dir, "pages", "window=test")
    # plant duplicates: re-write a copy of the source with half the rows
    dup_dir = str(tmp_path / "dup_src")
    base = spark.read.parquet(src)
    base.write.parquet(dup_dir)
    base.limit(200).write.mode("append").parquet(dup_dir)

    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(dup_dir)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        streaming_exact_dedup(stream, "text", "warc_ts", "1 hour")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    n_hashes = got.select("content_md5").distinct().count()
    assert got.count() == n_hashes  # exactly one survivor per content
    expected = base.select(F.md5("text").alias("m")).distinct().count()
    assert n_hashes == expected


def test_streaming_emerging_hh_final_equals_batch(spark, pages_dir, tmp_path):
    """After the stream drains, the last epoch's emerging-HH snapshot
    equals the batch flagship on the same data."""
    import os

    from sketch_spark.operators.emerging import emerging_heavy_hitters
    from sketch_spark.streaming.emerging_stream import streaming_emerging_hh

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    test_src = os.path.join(pages_dir, "pages", "window=test")
    ctrl = spark.read.parquet(os.path.join(pages_dir, "pages", "window=control"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(test_src)
    )
    snap = str(tmp_path / "snapshots")
    q = streaming_emerging_hh(
        stream, ctrl,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        snapshot_dir=snap,
        threshold=50, growth=2.0, mode="exact",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    epochs = sorted(
        int(d.split("=")[1]) for d in os.listdir(snap) if d.startswith("epoch=")
    )
    assert len(epochs) >= 2  # multiple micro-batches ran
    final = spark.read.parquet(os.path.join(snap, f"epoch={epochs[-1]}"))

    batch_test = spark.read.parquet(test_src)
    expected = emerging_heavy_hitters(
        batch_test, ctrl, "text", threshold=50, growth=2.0, mode="exact",
        depth=4, log2_width=14, seed=1,
    )
    got = {(r.token, r.freq, r.control_count) for r in final.collect()}
    exp = {(r.token, r.freq, r.control_count) for r in expected.collect()}
    assert got == exp and len(exp) > 0


def test_streaming_fold_replay_guard(spark, pages_dir, tmp_path):
    """Re-delivered epoch ids are skipped, not double-folded: replaying
    the whole stream against a fresh checkpoint (same epoch numbering)
    leaves the persisted state byte-identical."""
    import os
    import shutil

    from sketch_spark.operators.aggregate import SketchSpec
    from sketch_spark.streaming.sketch_stream import read_state, streaming_sketch_query

    src = os.path.join(pages_dir, "pages", "window=test")
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    specs = [SketchSpec("cm", "cm", "text", params={"depth": 4, "log2_width": 12, "seed": 5})]
    state = str(tmp_path / "state")

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = streaming_sketch_query(stream, specs, state_dir=state, checkpoint_dir=ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(str(tmp_path / "ckpt1"))
    first = read_state(spark, state, "cm")
    # wipe the checkpoint: the same files re-deliver as the same epoch
    # ids, which the marker must treat as replays
    run(str(tmp_path / "ckpt2"))
    second = read_state(spark, state, "cm")
    assert (first.table == second.table).all()
    assert first.total == second.total
