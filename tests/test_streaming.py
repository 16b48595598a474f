"""Structured Streaming sketch maintenance: micro-batch partials folded
into a persistent state table must equal the batch-computed sketch."""

import os


from sketch_spark.operators.aggregate import SketchSpec, sketch_aggregate
from sketch_spark.streaming.sketch_stream import read_state, streaming_sketch_query

from tests.conftest import exact_token_counts


def test_streaming_matches_batch(spark, pages_dir, pages_pdf, tmp_path):
    pages, _ = pages_pdf
    specs = [
        SketchSpec("cm", "cm", "text", mode="tokens", params={"depth": 4, "log2_width": 12, "seed": 3}),
        SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 12, "seed": 3}),
    ]
    src = os.path.join(pages_dir, "pages", "window=test")
    stream = (
        spark.readStream.schema("url string, warc_ts timestamp, html binary, text string, lang string")
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .parquet(src)
    )
    q = streaming_sketch_query(
        stream,
        specs,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch_df = spark.read.parquet(src)
    batch_res = sketch_aggregate(batch_df, specs)

    stream_cm = read_state(spark, str(tmp_path / "state"), "cm")
    batch_cm = batch_res.sketch("cm")
    assert (stream_cm.table == batch_cm.table).all()
    assert stream_cm.total == batch_cm.total

    stream_hll = read_state(spark, str(tmp_path / "state"), "hll")
    assert (stream_hll.registers == batch_res.sketch("hll").registers).all()

    # and both equal ground truth within bound
    test_pages = pages[pages.window == "test"]
    exact = exact_token_counts(test_pages["text"])
    est = stream_cm.estimate_tokens(list(exact.index))
    assert (est >= exact.to_numpy()).all()
