"""Property tests for the text kernels: tokenizer parity with Python
semantics and partition-invariance of the exact n-gram counts."""

import numpy as np
import pyarrow as pa

from hypothesis import given, settings, strategies as st

# alphabet where Arrow's Unicode White_Space and Python's str.isspace
# agree (excludes \x1c-\x1f, which Python treats as whitespace but
# Unicode does not)
_ALPHABET = (
    "abcXYZ012_.,!?-éß中 \t\n\r\x0b\x0c\xa0"
)


def test_tokenize_batch_null_rows_keep_parent_alignment():
    from sketch_spark.functions.text import tokenize_batch

    flat, parents = tokenize_batch(pa.array(["a b", None, "c d"]))
    assert flat.to_pylist() == ["a", "b", "c", "d"]
    # parents refer to ORIGINAL row positions: the null row yields zero
    # tokens, it does not shift later rows' attribution
    assert parents.tolist() == [0, 0, 2, 2]


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(alphabet=_ALPHABET, max_size=24), max_size=8))
def test_tokenize_batch_matches_python_split(rows):
    from sketch_spark.functions.text import tokenize_batch

    flat, parents = tokenize_batch(pa.array(rows, type=pa.string()))
    expect = [(i, t) for i, r in enumerate(rows) for t in r.split()]
    assert list(zip(parents.tolist(), flat.to_pylist())) == expect


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd"]), max_size=8), min_size=1, max_size=6
    ),
    st.integers(min_value=1, max_value=3),
)
def test_ngram_occurrences_match_python(docs, n):
    from sketch_spark.functions.text import ngram_occurrences

    texts = [" ".join(d) for d in docs]
    _, strs = ngram_occurrences(pa.array(texts, type=pa.string()), seed=1, ngram=n)
    expect = [
        " ".join(d[i : i + n]) for d in docs for i in range(len(d) - n + 1)
    ]
    assert strs.to_pylist() == expect


def test_ngram_count_df_partition_invariant(spark):
    from pyspark.sql import functions as F

    from sketch_spark.functions.text import ngram_count_df

    rng = np.random.default_rng(3)
    vocab = [f"t{i}" for i in range(30)]
    rows = [(" ".join(rng.choice(vocab, size=20)),) for _ in range(200)]
    df = spark.createDataFrame(rows, "text string")

    def counts(d):
        pdf = ngram_count_df(d, "text", 2, out_col="g").toPandas()
        return dict(zip(pdf.g, pdf.cnt))

    base = counts(df.coalesce(1))
    assert counts(df.repartition(7)) == base
    assert counts(df.repartition(16)) == base
    # and equals the codegen explode path exactly
    from sketch_spark.functions.text import word_ngrams_col

    exp = {
        r.g: r.cnt
        for r in df.select(F.explode(word_ngrams_col("text", 2)).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert base == exp
