"""Round-2 regression tests not yet moved to their subject files: ADVICE
fixes (reference-mode truncation, tie-boundary top-k) and VERDICT
anti-pattern fixes (blocked exact cosine pairs, Catalyst-only
binary_metadata)."""

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import functions as F


def test_emerging_reference_mode_growth_truncation(spark):
    """The reference truncates est/GROWTH to int (sketch.cpp:181) before
    comparing with the control count: floor(201/2)=100 is NOT > 100."""
    from sketch_spark.operators.emerging import emerging_heavy_hitters

    test_df = spark.createDataFrame(
        [("boundary",)] * 201 + [("above",)] * 202, "text string"
    )
    ctrl_df = spark.createDataFrame(
        [("boundary",)] * 100 + [("above",)] * 100, "text string"
    )
    out = emerging_heavy_hitters(
        test_df, ctrl_df, threshold=10, growth=2.0, mode="reference", log2_width=14
    ).toPandas()
    toks = set(out.token)
    assert "above" in toks  # floor(202/2)=101 > 100
    assert "boundary" not in toks  # floor(201/2)=100, not > 100


def test_exact_cosine_pairs_blocked_matches_broadcast(spark):
    rng = np.random.default_rng(7)
    rows = [(int(i), rng.standard_normal(8).tolist()) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from sketch_spark.operators.similarity import exact_cosine_pairs

    kw = dict(id_col="vec_id", vec_col="embedding")
    a = (
        exact_cosine_pairs(df, 0.3, strategy="broadcast", **kw)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    b = (
        exact_cosine_pairs(df, 0.3, strategy="blocked", n_blocks=3, **kw)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0


def test_exact_cosine_pairs_auto_switch(spark):
    rng = np.random.default_rng(11)
    rows = [(int(i), rng.standard_normal(4).tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from sketch_spark.operators.similarity import exact_cosine_pairs

    # tiny budget forces the blocked path; generous budget the broadcast
    small = exact_cosine_pairs(df, 0.2, strategy="auto", broadcast_budget_bytes=64)
    big = exact_cosine_pairs(df, 0.2, strategy="auto")
    pa_ = small.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    pb_ = big.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(pa_, pb_)


def test_binary_metadata_no_python_stage(spark):
    from sketch_spark.functions.multimodal import binary_metadata

    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG....payload")), (2, bytearray(b"plain bytes"))],
        "doc_id long, bin binary",
    )
    out = binary_metadata(df, "bin", "doc_id", id_type="long")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan
    pdf = out.toPandas().sort_values("doc_id")
    assert list(pdf.format) == ["png", "unknown"]
    import hashlib

    assert pdf.content_md5.iloc[0] == hashlib.md5(b"\x89PNG....payload").hexdigest()
    assert list(pdf.n_bytes) == [15, 11]


def test_bpe_ish_tokens_col(spark):
    from sketch_spark.functions.text import bpe_ish_tokens_col

    df = spark.createDataFrame(
        [("Hello, world! x42 a-b",), ("",)], "text string"
    )
    rows = df.select(bpe_ish_tokens_col("text").alias("t")).collect()
    assert rows[0].t == ["Hello", ",", "world", "!", "x", "42", "a", "-", "b"]
    assert rows[1].t == []


def test_winnow_fingerprints_shared_substring_guarantee(spark):
    """Winnowing guarantee: two docs sharing a run of >= k+window-1
    words share at least one fingerprint; short/gram-less docs behave."""
    from sketch_spark.functions.text import winnow_fingerprints_col

    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = k+window-1
    rows = [
        (0, f"prefix one two {shared} suffix three"),
        (1, f"{shared} completely different tail words here"),
        (2, "unrelated tokens nothing in common at all"),
        (3, "tiny doc"),  # < k tokens -> no grams -> empty
        (4, "four words here now"),  # 2 grams < window -> min-of-all
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: set(r.fp)
        for r in df.select(
            "doc_id", winnow_fingerprints_col("text", 3, 4).alias("fp")
        ).collect()
    }
    assert got[0] & got[1], "shared 6-word run must share a fingerprint"
    assert not (got[0] & got[2])
    assert got[3] == set()
    assert len(got[4]) == 1


def test_word_ngrams_col_matches_arrow_kernel(spark):
    """Cross-engine invariant: the JVM/Catalyst n-gram expression (the
    oracle-checkable path) and the Arrow rolling-hash kernel (the sketch
    hot path) enumerate exactly the same n-gram strings."""
    import numpy as np

    from sketch_spark.functions.text import ngram_occurrences, word_ngrams_col

    rng = np.random.default_rng(21)
    vocab = [f"w{i}" for i in range(50)]
    rows = [" ".join(rng.choice(vocab, size=int(n))) for n in rng.integers(0, 12, 60)]
    rows += ["", "single", "two tokens"]
    df = spark.createDataFrame([(r,) for r in rows], "text string")
    for n in (2, 3):
        jvm = sorted(
            r.g
            for r in df.select(F.explode(word_ngrams_col("text", n)).alias("g")).collect()
        )
        import pyarrow as pa

        _, strs = ngram_occurrences(pa.array(rows), seed=1, ngram=n)
        assert jvm == sorted(strs.to_pylist())


def test_punct_ratio_col(spark):
    from sketch_spark.functions.text import punct_ratio_col

    df = spark.createDataFrame(
        [("abc def!",), ("!!!",), ("",), ("no punct here",)], "text string"
    )
    got = [r.p for r in df.select(punct_ratio_col("text").alias("p")).collect()]
    assert got == [round(1 / 8, 4), 1.0, 0.0, 0.0]


def test_write_pages_table_roundtrip(spark, pages_dir, tmp_path):
    from sketch_spark.sources.pages import load_pages, write_pages_table

    src = load_pages(spark, pages_dir)
    out = str(tmp_path / "copy")
    write_pages_table(spark, src, out, catalog="parquet")
    back = load_pages(spark, out)
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)
    a = src.selectExpr("md5(text) m").groupBy().agg(F.count("m"), F.count_distinct("m")).first()
    b = back.selectExpr("md5(text) m").groupBy().agg(F.count("m"), F.count_distinct("m")).first()
    assert a == b


def test_multimodal_plumbing_numeric_id(spark):
    from sketch_spark.functions.multimodal import resize_images_df, sample_video_frames_df

    df = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, bytearray(b"def"))], "doc_id long, img binary"
    )
    r = resize_images_df(df, "img", "doc_id", width=2, height=2).toPandas()
    assert sorted(r.doc_id) == [1, 2] and r.doc_id.dtype.kind == "i"
    f = sample_video_frames_df(df, "img", "doc_id", n_frames=2, width=2, height=2).toPandas()
    assert len(f) == 4 and f.doc_id.dtype.kind == "i"


def test_cli_specs_seed_override_and_numeric_guard():
    import json

    import pytest

    from sketch_spark.cli import _specs

    s = _specs("cmcu", "text", 1, json.dumps({"cmcu": {"seed": 7}}))
    assert s[0].params["seed"] == 7  # --params seed wins over --seed default
    s = _specs("kll", "text", 1, None, numeric_col="price")
    assert s[0].column == "price" and s[0].mode == "numeric"
    with pytest.raises(SystemExit, match="numeric-col"):
        _specs("kll", "text", 1, None)


def test_bpe_and_punct_match_duckdb_on_vertical_tab(spark):
    """Java \\s includes \\x0B, RE2's does not — the explicit whitespace
    class keeps Spark and the DuckDB oracle identical on VT input."""
    import duckdb

    from sketch_spark.functions.text import bpe_ish_tokens_col, punct_ratio_col

    text = "a\x0bb c!"
    df = spark.createDataFrame([(text,)], "text string")
    toks = df.select(bpe_ish_tokens_col("text").alias("t")).first().t
    duck = duckdb.sql(
        "SELECT regexp_extract_all(?, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')",
        params=[text],
    ).fetchone()[0]
    assert toks == duck == ["a", "b", "c", "!"]
    pr = df.select(punct_ratio_col("text").alias("p")).first().p
    assert pr == round(1 / len(text), 4)  # only '!' counts; VT is whitespace
