"""End-to-end emerging heavy hitters vs brute force (SURVEY.md §5.2 L3)
plus the input_hint byte-identical text-extraction invariant."""

import math
import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sketch_spark.core.hashing import hash_strings
from sketch_spark.operators.aggregate import SketchSpec, sketch_aggregate
from sketch_spark.operators.emerging import (
    broadcast_sketch,
    candidate_token_counts,
    emerging_heavy_hitters,
)
from sketch_spark.sources.pages import extract_text_bytes, load_pages

from tests.conftest import exact_token_counts

THRESHOLD = 150
GROWTH = 2.0


def brute_force(pages: pd.DataFrame, mode: str):
    test = exact_token_counts(pages[pages.window == "test"]["text"])
    ctrl = exact_token_counts(pages[pages.window == "control"]["text"])
    out = {}
    for tok, cnt in test.items():
        if cnt >= THRESHOLD and cnt / GROWTH > ctrl.get(tok, 0):
            out[tok] = cnt
    return out


@pytest.fixture(scope="module")
def split(spark, pages_dir):
    df = load_pages(spark, pages_dir)
    return (
        df.filter(F.col("window") == "test"),
        df.filter(F.col("window") == "control"),
    )


def test_exact_mode_matches_brute_force(spark, split, pages_pdf):
    pages, sidecar = pages_pdf
    test_df, ctrl_df = split
    result = emerging_heavy_hitters(
        test_df, ctrl_df, "text", threshold=THRESHOLD, growth=GROWTH, mode="exact"
    ).toPandas()
    expected = brute_force(pages, "exact")
    got = dict(zip(result["token"], result["freq"]))
    assert got == expected
    # every planted emerging token above threshold must appear;
    # every planted stable token must be filtered by control subtraction
    for _, row in sidecar.iterrows():
        tok = row["token"]
        should = row["test_count"] >= THRESHOLD and row["test_count"] / GROWTH > row["control_count"]
        # organic zipf noise can add occurrences on top of planted counts
        if should:
            assert tok in got, f"planted emerging token {tok} missing"
            assert got[tok] >= row["test_count"]
        if row["test_count"] == row["control_count"]:
            assert tok not in got, f"stable token {tok} must not emerge"


def test_reference_mode_superset_and_bounds(spark, split, pages_pdf):
    """Reference semantics: freq is the sketch estimate — never below
    the exact count, and the result set contains every exact-mode row
    whose estimate passes the same predicates."""
    pages, _ = pages_pdf
    test_df, ctrl_df = split
    result = emerging_heavy_hitters(
        test_df, ctrl_df, "text", threshold=THRESHOLD, growth=GROWTH, mode="reference"
    ).toPandas()
    test_counts = exact_token_counts(pages[pages.window == "test"]["text"])
    for _, r in result.iterrows():
        assert r["freq"] >= test_counts.get(r["token"], 0)
        assert r["freq"] >= THRESHOLD
        assert r["freq"] / GROWTH > r["control_count"]
    # with w=2^14 over this tiny vocab the estimates are near-exact:
    # reference mode should equal brute force here
    expected = brute_force(pages, "exact")
    assert set(result["token"]) == set(expected)


def test_extract_text_byte_identical(pages_pdf):
    """input_hint invariant: extract_text(html) == text, byte for byte."""
    pages, _ = pages_pdf
    for html, text in zip(pages["html"], pages["text"]):
        assert extract_text_bytes(html) == text.encode()


def test_extract_text_spark_side(spark, pages_dir):
    """Same invariant exercised through the Spark plan (Arrow UDF)."""
    import pyarrow as pa
    from typing import Iterator

    from sketch_spark.sources.pages import extract_text_bytes as ext

    df = load_pages(spark, pages_dir)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            html = b.column(0).to_pylist()
            text = b.column(1).to_pylist()
            ok = [ext(h) == t.encode() for h, t in zip(html, text)]
            yield pa.RecordBatch.from_pydict({"ok": pa.array(ok)})

    res = df.select("html", "text").mapInArrow(run, "ok boolean").agg(
        F.min("ok").alias("all_ok")
    ).collect()
    assert res[0]["all_ok"] is True


def test_emerging_bigrams_exact_matches_brute_force(spark, split, pages_pdf):
    """Multi-length analogue (reference k-mer lengths -> word n-grams):
    emerging bigram detection, exact mode vs pandas brute force."""
    pages, _ = pages_pdf
    test_df, ctrl_df = split
    thr = 60
    result = emerging_heavy_hitters(
        test_df, ctrl_df, "text", threshold=thr, growth=GROWTH, mode="exact", ngram=2
    ).toPandas()

    def bigram_counts(texts):
        from collections import Counter

        c = Counter()
        for t in texts:
            toks = t.split()
            c.update(" ".join(toks[i : i + 2]) for i in range(len(toks) - 1))
        return c

    tc = bigram_counts(pages[pages.window == "test"]["text"])
    cc = bigram_counts(pages[pages.window == "control"]["text"])
    expected = {
        g: n for g, n in tc.items() if n >= thr and n / GROWTH > cc.get(g, 0)
    }
    got = dict(zip(result["token"], result["freq"]))
    assert got == expected
    assert len(expected) > 0, "fixture produced no emerging bigrams; lower thr"


@pytest.mark.parametrize("ngram", [1, 2])
def test_grams_sharing_a_key_keep_their_own_exact_counts(spark, ngram):
    """Two tokens of one length and one 64-byte prefix share a hash, and
    so do their bigrams.  Both pass the sketch, and each is counted as
    its own string: candidates and ``mode="exact"`` rows equal the
    Counter answer of ``HAVING cnt >= thr AND cnt / growth > ctrl``."""
    from collections import Counter

    a, b = "a" * 64 + "X", "a" * 64 + "Y"
    assert hash_strings([a], seed=1)[0] == hash_strings([b], seed=1)[0]
    # one row, so one batch holds every occurrence of both keys
    test_rows = [" ".join(["foo " + a] * 5 + ["foo " + b] * 2)]
    ctrl_rows = ["foo " + a]

    def grams(rows):
        c = Counter()
        for t in rows:
            toks = t.split()
            c.update(" ".join(toks[i : i + ngram]) for i in range(len(toks) - ngram + 1))
        return c

    tc, cc = grams(test_rows), grams(ctrl_rows)
    thr = 3
    test_df = spark.createDataFrame([(t,) for t in test_rows], "text string")
    ctrl_df = spark.createDataFrame([(t,) for t in ctrl_rows], "text string")
    params = {"depth": 4, "log2_width": 10, "seed": 1}
    spec = SketchSpec("cmcu", "cmcu", "text", ngram=ngram, params=params)
    sketch = sketch_aggregate(test_df, [spec]).sketch("cmcu")
    cand = candidate_token_counts(
        test_df, "text", broadcast_sketch(spark, sketch), thr, ngram=ngram
    ).toPandas()
    # the shared keys' estimates (7 and 6) pass, so every gram is a candidate
    assert dict(zip(cand["token"], cand["cnt"])) == tc
    result = emerging_heavy_hitters(
        test_df, ctrl_df, "text", threshold=thr, growth=GROWTH, mode="exact",
        ngram=ngram, prebuilt_sketch=sketch,
    ).toPandas()
    expected = {g: n for g, n in tc.items() if n >= thr and n / GROWTH > cc.get(g, 0)}
    assert dict(zip(result["token"], result["freq"])) == expected
    assert expected == ({"foo": 7, a: 5} if ngram == 1 else {"foo " + a: 5, a + " foo": 5})


def test_bloom_semi_join(spark, sf01):
    """Bloom pre-filter + exact semi-join == plain semi-join; approximate
    mode is a superset with FPR-bounded extras."""
    import os

    from sketch_spark.operators.emerging import bloom_semi_join

    li = spark.read.parquet(os.path.join(sf01, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(sf01, "orders.parquet")).filter(
        F.col("o_totalprice") > 150000
    )
    keys = orders.select(F.col("o_orderkey").alias("l_orderkey"))

    exact = li.join(keys.distinct(), "l_orderkey", "left_semi")
    via_bloom = bloom_semi_join(li, keys, "l_orderkey", log2_bits=20)
    a = sorted(r.l_orderkey for r in exact.select("l_orderkey").collect())
    b = sorted(r.l_orderkey for r in via_bloom.select("l_orderkey").collect())
    assert a == b and len(a) > 0

    approx = bloom_semi_join(li, keys, "l_orderkey", log2_bits=20, exact=False)
    n_approx = approx.count()
    assert n_approx >= len(a)
    assert n_approx <= len(a) * 1.01 + 50  # FPR-bounded superset


# mixed-case Unicode vocabulary: lowercase=True folds the case variants
_VOCAB = [
    "Alpha", "ALPHA", "alpha", "École", "ÉCOLE", "Straße", "naïve", "NAÏVE",
    "beta", "Gamma", "ΔΈΛΤΑ", "δέλτα", "über", "Über", "omega", "zeta",
]


def _zipf_rows(seed: int, n: int, hot: list[str]) -> list[str]:
    """Zipf-drawn words from ``_VOCAB`` plus words of ``hot``, mixed
    ASCII and no-break-space separators."""
    rng = np.random.default_rng(seed)
    words = _VOCAB + hot
    rows = []
    for _ in range(n):
        idx = np.minimum(rng.zipf(1.6, int(rng.integers(3, 12))) - 1, len(words) - 1)
        seps = rng.choice([" ", "\u00a0", "  "], len(idx))
        rows.append("".join(words[i] + s for i, s in zip(idx, seps)).strip())
    return rows


def _gram_counts(rows: list[str], ngram: int, lowercase: bool):
    from collections import Counter

    c = Counter()
    for t in rows:
        toks = (t.lower() if lowercase else t).split()
        c.update(" ".join(toks[i : i + ngram]) for i in range(len(toks) - ngram + 1))
    return c


@pytest.mark.parametrize("ngram", [1, 2])
@pytest.mark.parametrize("mode", ["reference", "exact"])
def test_one_pass_matches_brute_force(spark, mode, ngram):
    """The one candidate job over both windows answers exactly what the
    definitions say: in reference mode freq is the prebuilt sketch's
    estimate of the gram's key (a narrow sketch, so estimates
    overshoot), in exact mode the exact count, with the sketch prebuilt
    or built by the query; lowercase folds Unicode case."""
    import pyarrow as pa

    from sketch_spark.functions.text import ngram_occurrences

    test_rows = _zipf_rows(1, 400, ["rising", "Rising"])
    ctrl_rows = _zipf_rows(2, 300, [])
    thr, log2_width = (12, 4) if ngram == 1 else (6, 6)
    growth = 1.5
    geometry = {"depth": 2, "log2_width": log2_width, "seed": 7}
    test_df = spark.createDataFrame([(t,) for t in test_rows], "text string")
    ctrl_df = spark.createDataFrame([(t,) for t in ctrl_rows], "text string")
    spec = SketchSpec("cmcu", "cmcu", "text", lowercase=True, ngram=ngram, params=geometry)
    sketch = sketch_aggregate(test_df, [spec]).sketch("cmcu")

    def run(prebuilt):
        return emerging_heavy_hitters(
            test_df, ctrl_df, "text", threshold=thr, growth=growth, mode=mode,
            lowercase=True, ngram=ngram, prebuilt_sketch=prebuilt, **geometry,
        ).toPandas()

    tc = _gram_counts(test_rows, ngram, True)
    cc = _gram_counts(ctrl_rows, ngram, True)
    grams = sorted(tc)
    keys, _ = ngram_occurrences(pa.array(grams), sketch.seed, ngram)
    est = dict(zip(grams, sketch.estimate_hashed(keys).tolist()))
    if mode == "reference":
        expected = {
            g: (est[g], tc[g], cc.get(g, 0))
            for g in grams
            if est[g] >= thr and math.floor(est[g] / growth) > cc.get(g, 0)
        }
        assert any(est[g] > tc[g] for g in expected)
        results, cols = [run(sketch)], ["freq", "test_count", "control_count"]
    else:
        expected = {
            g: (tc[g], cc.get(g, 0))
            for g in grams
            if tc[g] >= thr and tc[g] / growth > cc.get(g, 0)
        }
        # exact rows do not depend on which sketch pre-filtered them
        results, cols = [run(sketch), run(None)], ["freq", "control_count"]
    assert expected and any(cc.get(g, 0) > 0 for g in expected)
    for result in results:
        got = {t: tuple(v) for t, *v in result[["token", *cols]].itertuples(index=False)}
        assert got == expected


def test_control_only_token_passing_the_sketch_is_absent(spark):
    """A control-window token whose key collides with a test heavy
    hitter passes the sketch in the control window, but it has no
    test occurrence, so it is no emerging token in either mode."""
    a, b = "a" * 64 + "X", "a" * 64 + "Y"
    assert hash_strings([a], seed=1)[0] == hash_strings([b], seed=1)[0]
    test_df = spark.createDataFrame([(" ".join([a] * 5),)], "text string")
    ctrl_df = spark.createDataFrame([(b,)], "text string")
    for mode in ("reference", "exact"):
        result = emerging_heavy_hitters(
            test_df, ctrl_df, "text", threshold=3, growth=GROWTH, mode=mode,
            log2_width=10,
        ).toPandas()
        assert list(result["token"]) == [a], mode
        assert list(result["control_count"]) == [0], mode
