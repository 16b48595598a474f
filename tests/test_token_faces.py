"""One token definition, three faces: Arrow ``tokenize_batch``, Catalyst
``tokens_col`` and DuckDB ``tokens_sql`` must split every input the
same way, and the exact counts, sketch candidates and SQL oracles built
on them must agree on non-ASCII whitespace (NBSP-decorated pages), not
only on the ASCII sf fixtures."""

import os
import re

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from pyspark.sql import functions as F

from sketch_spark.functions.text import (
    ngram_occurrences,
    tokenize_batch,
    tokens_col,
    tokens_sql,
    word_ngrams_col,
)

# Python's str.isspace set = what Arrow's utf8_split_whitespace splits on
SPLITTING = [c for c in range(0x3001) if chr(c).isspace()]
NON_SPLITTING = [0x200B, 0x180E]  # zero-width space, Mongolian vowel separator


def _face_inputs() -> list:
    rows = []
    for cp in SPLITTING + NON_SPLITTING:
        c = chr(cp)
        rows += [f"a{c}b", f"{c}{c}x{c}y{c}{c}", c, c * 3]
    rows += ["", " ", "".join(map(chr, SPLITTING)), None, " lead", "trail \t", "a  b\u3000\u3000c"]
    return rows


def _arrow_lists(rows: list) -> list:
    flat, parents = tokenize_batch(pa.array(rows, type=pa.string()))
    out = [[] for _ in rows]
    for p, t in zip(parents.tolist(), flat.to_pylist()):
        out[p].append(t)
    return out


def _duck(rows: list, select: str) -> list:
    con = duckdb.connect()
    con.register("rows", pd.DataFrame({"i": range(len(rows)), "text": rows}))
    return [r[0] for r in con.execute(f"SELECT {select} FROM rows ORDER BY i").fetchall()]


def test_every_face_splits_on_exactly_the_29_code_points(spark):
    """Enumerate U+0000..U+10FFFF (surrogates excluded): each face splits
    ``a<c>b`` for exactly the ``str.isspace`` set."""
    cps = np.array([c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF])
    table = pa.table({"cp": cps, "text": [f"a{chr(c)}b" for c in cps.tolist()]})
    arrow = cps[pc.list_value_length(pc.utf8_split_whitespace(table["text"])).to_numpy() == 2]
    con = duckdb.connect()
    con.register("rows", table)
    duck = [r[0] for r in con.execute(
        f"SELECT cp FROM rows WHERE len({tokens_sql('text')}) = 2 ORDER BY cp"
    ).fetchall()]
    df = spark.createDataFrame(table.to_pandas())
    catalyst = sorted(
        r.cp for r in df.filter(F.size(tokens_col("text")) == 2).select("cp").collect()
    )
    assert arrow.tolist() == duck == catalyst == SPLITTING
    assert len(SPLITTING) == 29


def test_three_faces_give_identical_token_lists(spark):
    rows = _face_inputs()
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rows)], "i int, text string"
    ).repartition(1)
    catalyst = [r.t for r in df.orderBy("i").select(tokens_col("text").alias("t")).collect()]
    duck = _duck(rows, tokens_sql("text"))
    arrow = _arrow_lists(rows)
    for r, a, c, d in zip(rows, arrow, catalyst, duck):
        if r is None:  # NULL in, NULL out on the SQL faces; no tokens on Arrow
            assert a == [] and c is None and d is None
        else:
            assert a == c == d == r.split(), repr(r)
    # the non-splitting code points stay inside their token
    assert duck[rows.index("a\u200bb")] == ["a\u200bb"]
    # lowercase is applied before the split on both SQL faces
    low = spark.createDataFrame([("A\u00a0B",)], "text string")
    assert low.select(tokens_col("text", lowercase=True)).first()[0] == ["a", "b"]
    assert _duck(["A\u00a0B"], tokens_sql("text", lowercase=True)) == [["a", "b"]]


def test_word_ngrams_col_matches_ngram_occurrences(spark):
    rows = [r for r in _face_inputs() if r is not None]
    rows += [f"w{i}\u00a0w{i + 1} w{i + 2}\u2003w{i}" for i in range(5)]
    df = spark.createDataFrame([(r,) for r in rows], "text string")
    for n in (2, 3):
        jvm = sorted(r.g for r in df.select(F.explode(word_ngrams_col("text", n)).alias("g")).collect())
        _, strs = ngram_occurrences(pa.array(rows), seed=1, ngram=n)
        assert jvm == sorted(strs.to_pylist())
        assert jvm  # the inputs do have grams of both orders


def test_zero_token_rows_column_faces_equal_sql_twins(spark):
    """Empty, whitespace-only and NULL text have zero tokens: every ratio
    over the token count must neither raise DIVIDE_BY_ZERO under ANSI nor
    drift from its SQL twin, and the SQL twins must keep those rows."""
    from sketch_spark.functions.text import (
        quality_columns,
        quality_sql,
        repetition_columns,
        repetition_sql,
        stopword_ratio_col,
        stopword_ratio_sql,
    )
    from sketch_spark.operators.filtering import corpus_filter, corpus_filter_sql

    texts = ["", " ", "\t", "\u00a0", None, "the cat the cat sat", "a b"]
    pdf = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})
    df = spark.createDataFrame(pdf, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pdf)

    def spark_rows(cols: dict) -> list:
        out = df.select("doc_id", *[c.alias(k) for k, c in cols.items()]).orderBy("doc_id")
        return [tuple(r) for r in out.collect()]

    def duck_rows(sql: str) -> list:
        return [tuple(r) for r in con.execute(f"SELECT * FROM ({sql}) ORDER BY doc_id").fetchall()]

    q = quality_sql("text")
    qcols = ", ".join(f"{v} AS {k}" for k, v in q.items())
    got = spark_rows({**quality_columns("text"), "sw": stopword_ratio_col("text")})
    want = duck_rows(
        f"SELECT doc_id, {qcols}, {stopword_ratio_sql('text')} AS sw FROM documents"
    )
    assert got == want
    assert got[0][1:] == (0, 0, 0.0, 0, 0.0, 0.0)  # "" has no tokens

    got = spark_rows(repetition_columns("text"))
    assert got == duck_rows(repetition_sql())
    assert len(got) == len(pdf)

    got = [tuple(r) for r in corpus_filter(df).orderBy("doc_id").collect()]
    assert got == duck_rows(corpus_filter_sql())
    assert len(got) == len(pdf)


# NBSP-decorated sf0.01 pages: every fifth separator becomes NBSP,
# even docs open with one and every third closes with an ideographic
# space + tab run -- the whitespace HTML-derived text actually carries
_NBSP_RE = re.compile(r"((?:\S+ ){4}\S+) ")


def _nbsp_decorate(doc_id: int, text: str) -> str:
    body = _NBSP_RE.sub("\\1\u00a0", text)
    return ("\u00a0" if doc_id % 2 == 0 else "") + body + ("\u3000\t" if doc_id % 3 == 0 else "")


@pytest.fixture(scope="module")
def nbsp_docs(sf01):
    pdf = pd.read_parquet(os.path.join(sf01, "documents.parquet"))
    pdf["text"] = [_nbsp_decorate(i, t) for i, t in zip(pdf["doc_id"], pdf["text"])]
    assert pdf["text"].str.contains("\u00a0").all()
    return pdf


def test_exact_token_counts_agree_on_nbsp_pages(spark, nbsp_docs):
    """Catalyst exact counts == DuckDB tokens_sql counts == the Arrow
    map-side counter (ngram_count_df), token for token."""
    from sketch_spark.functions.text import ngram_count_df

    df = spark.createDataFrame(nbsp_docs[["doc_id", "text"]])
    catalyst = dict(
        df.select(F.explode(tokens_col("text")).alias("tok")).groupBy("tok").count().collect()
    )
    arrow = dict(ngram_count_df(df, "text", 1).collect())
    con = duckdb.connect()
    con.register("documents", nbsp_docs)
    duck = dict(
        con.execute(
            f"SELECT tok, count(*) FROM (SELECT unnest({tokens_sql('text')}) AS tok "
            "FROM documents) GROUP BY tok"
        ).fetchall()
    )
    assert catalyst == duck == arrow
    assert not any("\u00a0" in t or "\u3000" in t for t in catalyst)


@pytest.mark.parametrize("name", ["token_counts", "emerging_hh"])
def test_contract_queries_match_oracles_on_nbsp_pages(spark, nbsp_docs, tmp_path, name):
    """The contract's exact token counts and ``emerging_heavy_hitters(
    mode="exact")`` (Arrow-tokenized candidates) equal their DuckDB
    oracles (the SQL ``HAVING`` answer) row for row on NBSP pages."""
    import __spark_entry__ as em

    nbsp_docs.to_parquet(tmp_path / "documents.parquet")
    got = sorted(tuple(r) for r in em.queries()[name](spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.register("documents", nbsp_docs)
    want = sorted(con.execute(em.oracle_sql()[name]).fetchall())
    assert got == want
    assert got  # the thresholds leave a non-empty answer
