"""Lexical retrieval over the documents table: BM25 scoring and a
capped inverted index.

Why this lives here: the task's similarity-search battery needs a
lexical baseline next to the embedding paths (cosine/IVF/LSH) — BM25
is the standard one, and both operators here are pure Catalyst, so the
driver's DuckDB value-hash gate covers them end to end.

Scale shapes:
* ``bm25_topk`` — for a FIXED small term set the whole thing is one
  scan + one 1-row stats broadcast + TakeOrderedAndProject: per-doc
  term frequencies are ``size(filter(tokens, = term))`` expressions
  (no explode, no shuffle), corpus stats (N, avgdl, per-term df) come
  from a single aggregate whose 1-row result is broadcast back, and
  the top-k is a per-partition local fold.  Nothing data-scale ever
  shuffles.  For ad-hoc open-vocabulary queries you'd probe the
  inverted index instead of rescanning.
* ``inverted_index`` — the one honest shuffle: distinct (token, doc)
  pairs to the token's reducer.  Posting lists are CAPPED (lowest ids
  first) so no single token materializes an unbounded array; at real
  scale postings shard further by (token, id-range) buckets and land
  partitioned by token prefix — the cap keeps the semantics testable
  without the unbounded collect_set.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..functions.text import tokens_col, tokens_sql

__all__ = ["bm25_topk", "inverted_index", "hybrid_topk", "hybrid_sql", "rrf_topk", "rrf_sql"]


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents by BM25 for a fixed bag of query terms.

    score(d) = sum_t idf_t * tf_td*(k1+1) / (tf_td + k1*(1-b+b*dl/avgdl)),
    idf_t = ln((N - df_t + 0.5)/(df_t + 0.5) + 1)   (Robertson/Lucene).

    Ties break toward the lowest id; score is rounded to 6 digits so
    the cross-engine comparison is stable (ln differs by <=1 ulp).
    """
    def _eq(term: str):
        # NB: the unary signature matters — pyspark passes (element,
        # index) to 2-arg lambdas, so a `t=t` default would capture the
        # index column instead of the term
        return lambda x: x == F.lit(term)

    # stage the split ONCE as its own projection: higher-order-function
    # arguments are outside subexpression elimination, so referencing
    # the split expression in every per-term filter re-tokenizes the
    # row per TERM (the lambda-CSE rule) — 3x on 500k organic docs,
    # byte-identical output (A/B in BENCH.md)
    toks = F.col("_toks")
    wide = docs.withColumn("_toks", tokens_col(text_col)).select(
        F.col(id_col),
        F.size(toks).alias("_dl"),
        *[
            F.size(F.filter(toks, _eq(t))).alias(f"_tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = wide.agg(
        F.count("*").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = wide.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(terms)):
        idf = F.log(
            (F.col("_n") - F.col(f"_df_{i}") + 0.5) / (F.col(f"_df_{i}") + 0.5) + 1.0
        )
        tf = F.col(f"_tf_{i}").cast("double")
        norm = tf + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
        score = score + idf * tf * (k1 + 1.0) / norm
    return (
        scored.select(
            F.col(id_col),
            F.col("_dl").cast("long").alias("dl"),
            F.round(score, 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_sql(
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for ``bm25_topk`` — same tokenization, same formula,
    same rounding and tie order."""
    tf_cols = ",\n                 ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"ln((s.n - s.df_{i} + 0.5)/(s.df_{i} + 0.5) + 1.0)"
        f" * w.tf_{i} * ({k1} + 1.0)"
        f" / (w.tf_{i} + {k1} * (1.0 - {b} + {b} * w.dl / s.avgdl))"
        for i in range(len(terms))
    )
    return f"""
        WITH wide AS (
          SELECT {id_col},
                 len(t) AS dl,
                 {tf_cols}
          FROM (SELECT {id_col}, {tokens_sql("text")} AS t FROM {table})
        ), s AS (
          SELECT count(*) AS n, avg(dl) AS avgdl, {df_cols} FROM wide
        )
        SELECT w.{id_col}, CAST(w.dl AS BIGINT) AS dl,
               round({score}, 6) AS score
        FROM wide w CROSS JOIN s
        ORDER BY score DESC, w.{id_col} ASC
        LIMIT {k}
    """


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int = 64,
    min_df: int = 1,
) -> DataFrame:
    """(token, df, postings) — df over distinct documents, postings the
    ``max_postings`` LOWEST doc ids as a comma-joined string (stable,
    hashable, bounded).  One exchange of distinct (token, doc) pairs
    (array_distinct folds duplicates map-side so it carries a doc's
    vocabulary, not its token stream); a row_number over the token
    partition marks the keepers BEFORE aggregation, so no agg buffer
    ever holds more than ``max_postings`` ids — a head token's full
    posting list (every doc in the corpus) never materializes anywhere.
    The df count still sees every row.  The window and the groupBy
    share the token partitioning: one shuffle total."""
    from pyspark.sql import Window as W

    pairs = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens_col(text_col))).alias("token"),
    )
    rn = F.row_number().over(W.partitionBy("token").orderBy(F.col(id_col).asc()))
    ranked = pairs.withColumn("_rn", rn)
    return (
        ranked.groupBy("token")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("_rn") <= max_postings, F.col(id_col))
                    )
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


def inverted_index_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    max_postings: int = 64,
    min_df: int = 1,
) -> str:
    """DuckDB oracle for ``inverted_index``."""
    return f"""
        WITH pairs AS (
          SELECT DISTINCT {id_col}, unnest({tokens_sql("text")}) AS token
          FROM {table}
        )
        SELECT token, CAST(count(*) AS BIGINT) AS df,
               array_to_string((list_sort(list({id_col})))[1:{max_postings}], ',') AS postings
        FROM pairs
        GROUP BY token HAVING count(*) >= {min_df}
    """


def hybrid_topk(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str],
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = 50,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+semantic retrieval: BM25 generates candidates,
    embedding cosine reranks, final = alpha*bm25_norm + (1-alpha)*cos.

    Scale shape: the candidate set (``n_candidates`` rows) BROADCASTS
    into one hash join against the embeddings table — no data-scale
    shuffle; the corpus-side work is one scan (and at real scale the
    embedding table is bucketed/z-ordered by id, so the broadcast join
    prunes to candidate files).  bm25_norm divides by the candidate
    max (1-row broadcast agg).  All floats are rounded-at-source
    (bm25 and cos at 6dp) so the blend is bit-reproducible in DuckDB.
    """
    from .similarity import cosine_sim_col

    # the candidate subtree is referenced twice (max-score agg + the
    # embeddings join): materialize the 50-row result once or the whole
    # BM25 corpus scan runs twice (measured 121 s -> 25 s at 500k docs)
    cand = bm25_topk(
        docs, terms, n_candidates, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=True)
    bmax = cand.agg(F.max("score").alias("_bmax"))
    qv = F.array(*[F.lit(float(x)).cast("double") for x in query_vec])
    joined = emb.join(
        F.broadcast(cand), emb[emb_id_col] == cand[id_col]
    ).crossJoin(F.broadcast(bmax))
    cos = F.round(cosine_sim_col(F.col(vec_col), qv), 6)
    # a query whose terms all miss the corpus yields _bmax = 0: the
    # lexical leg contributes nothing rather than raising ANSI 0/0
    # (found by the organic-corpus bench, where no English term exists)
    bm25_norm = F.when(
        F.col("_bmax") > 0, F.col("score") / F.col("_bmax")
    ).otherwise(F.lit(0.0))
    final = F.round(
        F.lit(alpha) * bm25_norm + F.lit(1.0 - alpha) * cos,
        6,
    )
    return (
        joined.select(
            F.col(id_col),
            F.col("score").alias("bm25"),
            cos.alias("cos"),
            final.alias("hybrid"),
        )
        .orderBy(F.col("hybrid").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hybrid_sql(
    terms: list[str],
    query_vec_id: int,
    k: int = 10,
    n_candidates: int = 50,
    alpha: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    emb_table: str = "embeddings",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for ``hybrid_topk`` with the query vector taken
    from ``emb_table`` at ``query_vec_id`` — same BM25, same 6dp
    rounding points, same tie order."""
    inner = bm25_sql(terms, n_candidates, k1, b, table, id_col)
    return f"""
        WITH cand AS ({inner}),
        bmax AS (SELECT max(score) AS m FROM cand),
        q AS (SELECT embedding AS qv FROM {emb_table} WHERE vec_id = {query_vec_id}),
        rer AS (
          SELECT c.{id_col}, c.score AS bm25,
                 round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS cos
          FROM cand c JOIN {emb_table} e ON e.vec_id = c.{id_col}, q
        )
        SELECT {id_col}, bm25, cos,
               round({alpha} * (CASE WHEN bmax.m > 0 THEN bm25 / bmax.m ELSE 0.0 END)
                     + {1.0 - alpha} * cos, 6) AS hybrid
        FROM rer, bmax
        ORDER BY hybrid DESC, {id_col} ASC
        LIMIT {k}
    """


def rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str],
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = 50,
    c: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 and cosine candidate lists:
    rrf(d) = sum_lists 1/(c + rank_d), the standard rank-level hybrid
    (Cormack et al.) that needs no score normalization at all.

    Cross-engine exactness: every quantity entering the fused score is
    either an integer rank (deterministic ties: score desc then id
    asc, over 6dp-rounded inputs) or an IEEE-exact division/addition of
    those ranks — no libm anywhere between the ranked lists and the
    final ordering, so the fusion is bit-reproducible by construction
    (the ranked lists themselves reuse bm25/cosine's round-at-source
    contract).

    Plan shape: both lists are candidate-scale TakeOrdered results
    (BM25 = one scan + 1-row stats broadcast; cosine = one scan +
    TakeOrderedAndProject); fusion is a candidate x candidate full
    outer join — nothing data-scale shuffles.
    """
    from .aggregate import bounded_rank
    from .similarity import cosine_sim_col

    cand = bm25_topk(docs, terms, n_candidates, text_col=text_col, id_col=id_col)
    # both ranked lists are ≤ n_candidates rows: bounded_rank orders
    # them in one single-group task without the unpartitioned-window
    # WARN (VERDICT r4 #3)
    b_ranked = bounded_rank(
        cand.select(F.col(id_col).alias("_id"), "score"),
        [("score", False), ("_id", True)],
        "bm25_rank",
    ).select("_id", "bm25_rank")
    qv = F.array(*[F.lit(float(x)).cast("double") for x in query_vec])
    cos_top = (
        emb.select(
            F.col(emb_id_col).alias("_id"),
            F.round(cosine_sim_col(F.col(vec_col), qv), 6).alias("_cos"),
        )
        .orderBy(F.col("_cos").desc(), F.col("_id").asc())
        .limit(n_candidates)
    )
    c_ranked = bounded_rank(
        cos_top, [("_cos", False), ("_id", True)], "cos_rank"
    ).select("_id", "cos_rank")
    fused = b_ranked.join(c_ranked, "_id", "full_outer")
    rrf = F.round(
        F.coalesce(1.0 / (F.lit(float(c)) + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(float(c)) + F.col("cos_rank")), F.lit(0.0)),
        6,
    )
    return (
        fused.select(
            F.col("_id").alias(id_col), "bm25_rank", "cos_rank", rrf.alias("rrf")
        )
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
        .limit(k)
    )


def rrf_sql(
    terms: list[str],
    query_vec_id: int,
    k: int = 10,
    n_candidates: int = 50,
    c: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    emb_table: str = "embeddings",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for ``rrf_topk`` with the query vector taken from
    ``emb_table`` at ``query_vec_id`` — same ranked lists, same
    IEEE-exact fusion arithmetic, same tie order."""
    inner = bm25_sql(terms, n_candidates, k1, b, table, id_col)
    return f"""
        WITH bm AS (
          SELECT {id_col} AS _id,
                 CAST(row_number() OVER (ORDER BY score DESC, {id_col} ASC) AS INT)
                   AS bm25_rank
          FROM ({inner})
        ), q AS (SELECT embedding AS qv FROM {emb_table} WHERE vec_id = {query_vec_id}),
        cs AS (
          SELECT _id, CAST(row_number() OVER (ORDER BY _cos DESC, _id ASC) AS INT)
                   AS cos_rank
          FROM (
            SELECT e.vec_id AS _id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS _cos
            FROM {emb_table} e, q
            ORDER BY _cos DESC, _id ASC
            LIMIT {n_candidates}
          )
        )
        SELECT _id AS {id_col}, bm25_rank, cos_rank,
               round(COALESCE(1.0/({c} + bm25_rank), 0.0)
                     + COALESCE(1.0/({c} + cos_rank), 0.0), 6) AS rrf
        FROM bm FULL OUTER JOIN cs USING (_id)
        ORDER BY rrf DESC, {id_col} ASC
        LIMIT {k}
    """
