"""Corpus-trained n-gram language-model perplexity — the CCNet-style
"perplexity filter" quality signal, self-contained (the LM is trained
on the corpus being scored, so no external model enters the sandbox).

Model: add-k-smoothed bigram LM.  P(w2 | w1) = (C(w1 w2) + k) /
(C(w1 ·) + k·V), with C(w1 ·) the count of w1 as a bigram CONTEXT
(so the conditional sums to 1 over the vocabulary) and V the corpus
vocabulary size.  Per-doc score = exp(-mean log P) over the doc's
bigrams — lower is more "typical" of the corpus; the high-perplexity
tail is the boilerplate/garbled/off-distribution material a pipeline
drops or buckets.

Everything is counts, joins and one log/exp — pure Catalyst, so the
driver's DuckDB gate hash-checks the perplexities themselves
(contract query ``lm_perplexity``).

Plan at scale: the bigram-count and context-count tables are
vocabulary-bounded (not corpus-bounded); AQE broadcasts them when they
fit and falls back to a gram-keyed shuffle join when they don't — the
standard LM-scoring shape.  The doc-side stream is one exploded pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import tokens_col, tokens_sql, word_ngrams_col

__all__ = ["bigram_lm_perplexity", "bigram_lm_perplexity_sql"]


def bigram_lm_perplexity(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
) -> DataFrame:
    """(id, n_bigrams, ppl): add-k bigram perplexity of every doc with
    at least one bigram, under the LM trained on this corpus."""
    bg = docs.select(
        F.col(id_col), F.explode(word_ngrams_col(text_col, 2)).alias("bg")
    )
    c2 = bg.groupBy("bg").agg(F.count("*").alias("c2"))
    c1 = (
        bg.select(F.substring_index("bg", " ", 1).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    toks = docs.select(F.explode(tokens_col(text_col)).alias("tok"))
    vocab = toks.agg(F.countDistinct("tok").alias("v"))
    logp = F.log(
        (F.col("c2") + add_k) / (F.col("c1") + add_k * F.col("v"))
    )
    return (
        bg.join(c2, "bg")
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.exp(-F.avg(logp)), 4).alias("ppl"),
        )
    )


def bigram_lm_perplexity_sql(
    table_expr: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
) -> str:
    """DuckDB oracle computing exactly ``bigram_lm_perplexity``."""
    return f"""
        WITH toks AS (
          SELECT {id_col}, {tokens_sql(text_col)} AS t
          FROM {table_expr}
        ), bg AS (
          SELECT {id_col},
                 unnest([t[i] || ' ' || t[i+1]
                         FOR i IN generate_series(1, len(t)-1)]) AS bg
          FROM toks WHERE len(t) >= 2
        ), c2 AS (
          SELECT bg, count(*) AS c2 FROM bg GROUP BY 1
        ), c1 AS (
          SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM bg GROUP BY 1
        ), vocab AS (
          SELECT count(DISTINCT tok) AS v
          FROM (SELECT unnest(t) AS tok FROM toks)
        )
        SELECT bg.{id_col},
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(exp(-avg(ln((c2.c2 + {add_k}) / (c1.c1 + {add_k} * vocab.v)))), 4)
                 AS ppl
        FROM bg
        JOIN c2 USING (bg)
        JOIN c1 ON c1.w1 = split_part(bg.bg, ' ', 1)
        CROSS JOIN vocab
        GROUP BY 1
    """
