"""Duplicate n-gram SPAN removal (ExactSubstr-style, Lee et al. 2022):
hand-computed fixtures, randomized DuckDB parity, and the semi-join
branch against the broadcast branch (the plan guard lives in
test_plan_guards.py)."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from sketch_spark.operators.dedup import (
    duplicate_ngram_spans,
    duplicate_ngram_spans_sql,
    remove_duplicate_spans,
    remove_duplicate_spans_sql,
)

FIXTURE = [
    (1, "a b c d e f g h"),  # shares 'a b c d e' with 2 and 4
    (2, "x y a b c d e z"),
    (3, "p q r s t u v w"),  # unique — untouched
    (4, "m a b c d e n a b c d e o"),  # same-doc repeat: both copies cut
    (5, ""),
    (6, "   "),
    (7, "a b"),  # shorter than n — no grams
]


def _duck(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{t}')" for i, t in rows)
        + ") t(doc_id, text)"
    )
    return con


def _fixture_rows(spark, monkeypatch, path):
    """(span rows, removal rows) of FIXTURE at n=3, min_count=2 through
    one span path: ``arrow`` probes the sorted broadcast of the dup
    set, ``hash`` forces the shuffle semi join on the gram hash, and
    ``gram`` is the gram-string-keyed DuckDB oracle."""
    if path == "gram":
        con = _duck(FIXTURE)
        cols = ("doc_id", "span_start", "span_end", "span_tokens")
        spans = con.execute(duplicate_ngram_spans_sql(n=3, min_count=2)).fetchall()
        removed = con.execute(remove_duplicate_spans_sql(n=3, min_count=2)).fetchall()
        return (
            [dict(zip(cols, r)) for r in spans],
            [dict(zip(("doc_id", "clean_text", "n_tokens", "n_removed"), r)) for r in removed],
        )
    if path == "hash":
        from sketch_spark.operators import dedup

        monkeypatch.setattr(dedup, "_SPAN_BROADCAST_CAP", 0)
    df = spark.createDataFrame(FIXTURE, "doc_id long, text string")
    return (
        duplicate_ngram_spans(df, n=3, min_count=2).collect(),
        remove_duplicate_spans(df, n=3, min_count=2).collect(),
    )


@pytest.mark.parametrize("path", ["hash", "gram", "arrow"])
def test_span_fixture_hand_computed(spark, monkeypatch, path):
    span_rows, removed_rows = _fixture_rows(spark, monkeypatch, path)
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"]): r["span_tokens"]
        for r in span_rows
    }
    # doc 1: grams at pos 0..2 dup -> one span [0, 4]; doc 2: [2, 6];
    # doc 4: two islands [1, 5] and [7, 11]; docs 3/5/6/7: none
    assert spans == {
        (1, 0, 4): 5,
        (2, 2, 6): 5,
        (4, 1, 5): 5,
        (4, 7, 11): 5,
    }
    out = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in removed_rows
    }
    assert out[1] == ("f g h", 8, 5)
    assert out[2] == ("x y z", 8, 5)
    assert out[3] == ("p q r s t u v w", 8, 0)
    assert out[4] == ("m n o", 13, 10)
    assert out[5] == ("", 0, 0)
    assert out[6] == ("", 0, 0)
    assert out[7] == ("a b", 2, 0)


def test_whole_doc_removed_when_fully_duplicated(spark):
    df = spark.createDataFrame(
        [(1, "c1 c2 c3 c4"), (2, "c1 c2 c3 c4")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in remove_duplicate_spans(df, n=4, min_count=2).collect()
    }
    assert out == {1: ("", 4), 2: ("", 4)}


def test_min_count_threshold_counts_all_occurrences(spark):
    # the gram appears twice in ONE doc: min_count=2 is met corpus-wide
    df = spark.createDataFrame(
        [(1, "u v w pad u v w"), (2, "unrelated text entirely here")],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_ngram_spans(df, n=3, min_count=2).collect()
    )
    assert got == [(1, 0, 2), (1, 4, 6)]
    # min_count=3 not met -> nothing
    assert duplicate_ngram_spans(df, n=3, min_count=3).count() == 0


def _random_corpus(seed: int, n_docs: int = 60):
    """Zipf-ish corpus with planted shared passages and self-repeats."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(40)]
    passage = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    for i in range(n_docs):
        toks = list(rng.choice(vocab, size=rng.integers(0, 30)))
        if i % 4 == 0:
            pos = rng.integers(0, len(toks) + 1)
            toks[pos:pos] = passage.split()
        rows.append((i, " ".join(toks)))
    return rows


@pytest.mark.parametrize("seed", [7, 8])
def test_randomized_duckdb_parity(spark, seed):
    rows = _random_corpus(seed)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = _duck(rows)
    for n in (3, 8):
        want = sorted(
            tuple(r)
            for r in con.execute(duplicate_ngram_spans_sql(n=n, min_count=2)).fetchall()
        )
        want_rm = sorted(
            tuple(r)
            for r in con.execute(remove_duplicate_spans_sql(n=n, min_count=2)).fetchall()
        )
        got = sorted(
            tuple(r) for r in duplicate_ngram_spans(df, n=n, min_count=2).collect()
        )
        assert got == want, f"spans diverge at n={n} seed={seed}"
        got_rm = sorted(
            tuple(r) for r in remove_duplicate_spans(df, n=n, min_count=2).collect()
        )
        assert got_rm == want_rm, f"removal diverges at n={n} seed={seed}"


def test_arrow_join_fallback_matches_broadcast(spark, monkeypatch):
    """A zero broadcast cap forces the shuffle-semi-join branch
    (huge-dup-set corpora); results must equal the broadcast-membership
    branch."""
    from sketch_spark.operators import dedup

    rows = _random_corpus(9)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(tuple(r) for r in duplicate_ngram_spans(df, n=4, min_count=2).collect())
    monkeypatch.setattr(dedup, "_SPAN_BROADCAST_CAP", 0)
    b = sorted(tuple(r) for r in duplicate_ngram_spans(df, n=4, min_count=2).collect())
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# temperature-mixture sampling (same deterministic-md5-rank family)
# ---------------------------------------------------------------------------
def test_mixture_weights_alpha_extremes(spark):
    from sketch_spark.operators.sampling import mixture_weights

    df = spark.createDataFrame(
        [(i, "big") for i in range(90)] + [(i + 90, "small") for i in range(10)],
        "doc_id long, source string",
    )
    # alpha=1: natural proportions
    w1 = {r["source"]: r["weight"] for r in mixture_weights(df, alpha=1.0).collect()}
    assert w1 == {"big": 0.9, "small": 0.1}
    # alpha=0: uniform over groups regardless of size
    w0 = {r["source"]: r["weight"] for r in mixture_weights(df, alpha=0.0).collect()}
    assert w0 == {"big": 0.5, "small": 0.5}
    # 0<alpha<1 up-weights the small source vs natural
    wh = {r["source"]: r["weight"] for r in mixture_weights(df, alpha=0.5).collect()}
    assert wh["small"] > 0.1 and wh["big"] < 0.9
    assert abs(wh["small"] + wh["big"] - 1.0) < 1e-5


def test_mixture_sample_rate_caps_at_one(spark):
    from sketch_spark.operators.sampling import mixture_weights

    df = spark.createDataFrame(
        [(i, "big") for i in range(990)] + [(990, "tiny")],
        "doc_id long, source string",
    )
    rates = {
        r["source"]: r["sample_rate"]
        for r in mixture_weights(df, alpha=0.5, budget=500).collect()
    }
    # tiny source: budget * weight > 1 doc -> rate capped at 1.0
    assert rates["tiny"] == 1.0
    assert 0.0 < rates["big"] < 1.0


def test_temperature_sample_deterministic_and_sized(spark):
    from sketch_spark.operators.sampling import temperature_sample

    rows = [(i, f"s{i % 7}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = sorted(r["doc_id"] for r in temperature_sample(df, budget=400).collect())
    b = sorted(
        r["doc_id"]
        for r in temperature_sample(df.repartition(13), budget=400).collect()
    )
    assert a == b, "sample must be stable under repartition"
    # expected 400 draws; binomial sd ~ sqrt(400) -> generous 5-sigma band
    assert 300 <= len(a) <= 500
    # different seed -> different sample
    c = sorted(
        r["doc_id"] for r in temperature_sample(df, budget=400, seed=2).collect()
    )
    assert a != c


def test_rank_buckets_matches_reference_and_is_stable(spark):
    import numpy as np

    from sketch_spark.operators.sampling import rank_buckets

    rng = np.random.default_rng(11)
    rows = [(i, float(round(rng.uniform(0, 100), 4))) for i in range(537)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    got = {
        r["doc_id"]: r["bucket"]
        for r in rank_buckets(df, "score", n_buckets=10).collect()
    }
    # driver-side reference: rank over (score, id), (rank-1)*n//N + 1
    order = sorted(rows, key=lambda t: (t[1], t[0]))
    want = {
        doc_id: (rank * 10) // len(rows) + 1
        for rank, (doc_id, _) in enumerate(order)
    }
    assert got == want
    # invariant under input partitioning (range boundaries resample)
    got2 = {
        r["doc_id"]: r["bucket"]
        for r in rank_buckets(df.repartition(17), "score", n_buckets=10).collect()
    }
    assert got2 == got
    # every bucket within 1 of N/n (the integer-formula guarantee)
    from collections import Counter

    sizes = Counter(got.values())
    assert set(sizes) == set(range(1, 11))
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_rank_buckets_no_global_order_window(spark):
    """The plan must range-partition and rank per partition — never a
    single-task global-order Window (the one-task trap at scale)."""
    from sketch_spark.operators.sampling import rank_buckets

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).cast("double").alias("score")
    )
    out = rank_buckets(df, "score", n_buckets=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only Window specs are partitioned by _pid (local rank) or over
    # the P-row offset table; a global-order window over the data would
    # surface as 'Window [...] [score... ASC' with no partition spec
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line and "_pid" not in line:
            # the offset-table window runs over <= P rows (counts table)
            assert "_n" in line or "_off" in line, line
