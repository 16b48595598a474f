"""Hashed naive-Bayes text classifier: corpus-scale train, map-only score.

The fastText-style quality/language classifier every training-data
pipeline runs (CCNet's LID gate, quality classifiers for crawl
filtering) reduced to its distributed essence: tokens are hashed into
``n_buckets`` (the hashing trick — no vocabulary state, collisions are
the regularizer), per-bucket class counts are ONE map-side-combined
aggregation over the corpus, and the learned weights are closed-form
log-odds — no iterative optimizer, so the whole train is a single
Spark job whose shuffle carries at most ``n_buckets`` rows per input
partition.

Scoring is map-only: the B-row weight table rides into the plan as an
array literal (B is 64-4096 — always driver-safe, same bounded-collect
contract as ``clustering.kmeans_fit``'s k x d centroid matrix), and
each doc's score is a per-row Catalyst fold over its token buckets.
Zero shuffles, zero Python, survives any corpus size.

Everything is md5-derived, so the full train+score pipeline is
reproducible in DuckDB for the value-hash oracle (``nb_classifier_sql``).
Reference analog: none — the reference has no supervised component;
this is part of the LLM-pipeline battery (SURVEY §2.2).
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import tokens_col, tokens_sql

__all__ = ["nb_train", "nb_score", "nb_classifier_sql"]

_MEMO_CAP = 1 << 20  # bucket-memo entries per task; vocab past this just re-hashes


def _bucket(tok: Column, n_buckets: int, seed: int) -> Column:
    """Token -> bucket in [0, n_buckets): first 8 md5 hex digits of
    'seed:tok' mod B.  32 bits through a 64-bit long — exact, and
    bit-identical to the DuckDB mirror."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), tok)), 1, 8), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(n_buckets)).cast("int")


def _md5_buckets(uniq: list, n_buckets: int, seed: int, memo: dict) -> np.ndarray:
    """Bucket per UNIQUE token, bit-identical to the Catalyst/DuckDB
    expression (first 4 md5 bytes of 'seed:tok', big-endian, mod B).
    The memo persists across batches within a task — on Zipf text the
    head vocabulary hashes once per task, not once per batch."""
    out = np.empty(len(uniq), dtype=np.int64)
    import hashlib

    pre = f"{seed}:".encode()
    for i, t in enumerate(uniq):
        b = memo.get(t)
        if b is None:
            b = (
                int.from_bytes(hashlib.md5(pre + t.encode()).digest()[:4], "big")
                % n_buckets
            )
            if len(memo) < _MEMO_CAP:
                memo[t] = b
        out[i] = b
    return out


def _batch_occurrence_buckets(
    texts, n_buckets: int, seed: int, memo: dict
) -> tuple[np.ndarray, np.ndarray]:
    """(bucket per token occurrence, parent row per occurrence) for a
    batch of texts — ONE Arrow tokenize + dictionary_encode, md5 only
    over the per-batch UNIQUE tokens (the repo's dictionary-encode
    rule: never hash the occurrence stream)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.text import tokenize_batch

    flat, parents = tokenize_batch(texts)
    if len(flat) == 0:
        return np.empty(0, dtype=np.int64), parents
    d = pc.dictionary_encode(flat)
    if isinstance(d, pa.ChunkedArray):
        d = d.combine_chunks()
    buckets = _md5_buckets(d.dictionary.to_pylist(), n_buckets, seed, memo)
    idx = d.indices.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    return buckets[idx], parents


def nb_train(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    n_buckets: int = 64,
    alpha: float = 0.5,
    seed: int = 1,
    engine: str = "arrow",
) -> tuple[list[int], int]:
    """Train hashed multinomial naive Bayes on ``label`` (boolean
    Column) over ``text_col``.  Returns (weights, bias): weights[b] =
    log-odds of bucket b, bias = log prior odds.

    One pass: explode token buckets -> groupBy(bucket) with map-side
    combine (shuffle <= n_buckets rows/partition) -> collect the B-row
    count table (bounded by construction).  Weights and bias are
    FIXED-POINT integers in 1e-6 log-odds units: a doc score is then
    an INTEGER sum, which is exact and order-independent, so Spark's
    in-token-order fold and DuckDB's arbitrary-order SUM agree
    bit-for-bit at any scale (a double sum rounded to 6dp was observed
    to differ by 1 ulp-of-rounding on 1 of 5000 docs at sf0.1 —
    integer arithmetic removes the failure class, not the instance).

    ``engine="arrow"`` (default, the scale path) counts buckets in one
    mapInArrow pass — Arrow tokenize + dictionary_encode so md5 runs
    once per batch-UNIQUE token (memoized per task), not once per
    occurrence, and each task emits a single (B-array, B-array) partial
    row; the Catalyst form (``engine="sql"``, per-occurrence md5 in
    codegen) is the oracle-derivation reference, weights provably
    identical (equality pytest).  The 500k-doc organic measurement:
    per-occurrence md5 made train+score 2x slower than the
    tokenize-bound op family; the dictionary path removes that.
    """
    if engine == "arrow":
        pos, neg = _nb_counts_arrow(df, label, text_col, n_buckets, seed)
    elif engine == "sql":
        toks = df.select(
            label.cast("boolean").alias("_lab"),
            tokens_col(text_col).alias("_t"),
        )
        exploded = toks.select("_lab", F.explode("_t").alias("_tok")).select(
            "_lab", _bucket(F.col("_tok"), n_buckets, seed).alias("_bkt")
        )
        counts = (
            exploded.groupBy("_bkt")
            .agg(
                F.sum(F.when(F.col("_lab"), 1).otherwise(0)).alias("pos"),
                F.sum(F.when(~F.col("_lab"), 1).otherwise(0)).alias("neg"),
            )
            .collect()
        )
        pos = {r["_bkt"]: r["pos"] for r in counts}
        neg = {r["_bkt"]: r["neg"] for r in counts}
    else:
        raise ValueError(f"unknown engine {engine!r} (arrow|sql)")
    pos_tot = sum(pos.values())
    neg_tot = sum(neg.values())
    denom_p = pos_tot + alpha * n_buckets
    denom_n = neg_tot + alpha * n_buckets
    weights = [
        int(
            round(
                (
                    math.log((pos.get(b, 0) + alpha) / denom_p)
                    - math.log((neg.get(b, 0) + alpha) / denom_n)
                )
                * 1_000_000
            )
        )
        for b in range(n_buckets)
    ]
    docs = df.select(
        F.sum(label.cast("int")).alias("p"), F.sum((~label).cast("int")).alias("n")
    ).collect()[0]
    n_pos, n_neg = docs["p"] or 0, docs["n"] or 0
    if n_pos == 0 or n_neg == 0:
        # log(0) / division by zero otherwise — a single-class corpus has
        # no learnable prior; fail loudly instead of returning NaN weights
        raise ValueError(
            f"nb_train requires both classes present: pos={n_pos}, neg={n_neg}"
        )
    bias = int(round(math.log(n_pos / n_neg) * 1_000_000))
    return weights, bias


def _nb_counts_arrow(
    df: DataFrame, label: Column, text_col: str, n_buckets: int, seed: int
) -> tuple[dict, dict]:
    """Per-bucket (pos, neg) token counts via ONE mapInArrow pass:
    each task folds its batches into two B-length int64 arrays and
    emits a single partial row — the job moves P * 2 * B longs total,
    independent of corpus size.  Null labels count in neither class
    (matching the SQL engine's when/otherwise semantics)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    sel = df.select(
        label.cast("boolean").alias("_lab"), F.col(text_col).alias("_txt")
    )

    def fold(batches):
        posc = np.zeros(n_buckets, dtype=np.int64)
        negc = np.zeros(n_buckets, dtype=np.int64)
        memo: dict = {}
        for batch in batches:
            lab = batch.column(0)
            is_pos = pc.fill_null(lab, False).to_numpy(zero_copy_only=False)
            is_neg = pc.fill_null(pc.invert(lab), False).to_numpy(
                zero_copy_only=False
            )
            occ, parents = _batch_occurrence_buckets(
                batch.column(1), n_buckets, seed, memo
            )
            if len(occ) == 0:
                continue
            posc += np.bincount(occ[is_pos[parents]], minlength=n_buckets)
            negc += np.bincount(occ[is_neg[parents]], minlength=n_buckets)
        yield pa.RecordBatch.from_pydict(
            {
                "pos": pa.array([posc.tolist()], pa.list_(pa.int64())),
                "neg": pa.array([negc.tolist()], pa.list_(pa.int64())),
            }
        )

    parts = sel.mapInArrow(fold, "pos array<long>, neg array<long>").collect()
    posc = np.zeros(n_buckets, dtype=np.int64)
    negc = np.zeros(n_buckets, dtype=np.int64)
    for r in parts:
        posc += np.asarray(r["pos"], dtype=np.int64)
        negc += np.asarray(r["neg"], dtype=np.int64)
    return (
        {b: int(c) for b, c in enumerate(posc) if c},
        {b: int(c) for b, c in enumerate(negc) if c},
    )


def nb_score(
    df: DataFrame,
    weights: list[int],
    bias: int,
    text_col: str = "text",
    seed: int = 1,
    score_col: str = "score",
    pred_col: str = "pred",
    engine: str = "sql",
    id_col: str = "doc_id",
) -> DataFrame:
    """Map-only scoring: score = (bias + sum_t w[bucket(t)]) / 1e6 in
    exact integer arithmetic, pred = raw integer > 0.

    ``engine="sql"`` (default): the weight table rides in as an array
    literal and the score is a per-row Catalyst fold — no join, no
    shuffle, whole-stage codegen, all input columns preserved (use
    this to gate a pipeline on the score).  ``engine="arrow"``: one
    mapInArrow pass with the dictionary-encode hash path (md5 per
    batch-unique token) — returns ONLY (id_col, score, pred); same
    integers as the sql engine (equality pytest).  Both are map-only;
    arrow wins when B is large or docs are long (the sql fold pays an
    md5 per occurrence)."""
    if engine == "arrow":
        return _nb_score_arrow(
            df, weights, bias, text_col, seed, score_col, pred_col, id_col
        )
    if engine != "sql":
        raise ValueError(f"unknown engine {engine!r} (arrow|sql)")
    n_buckets = len(weights)
    w_arr = F.array(*[F.lit(int(w)).cast("long") for w in weights])
    # stage the tokenize as its own projection: referencing it from
    # inside the fold lambda would re-evaluate it per element
    staged = df.withColumn("_t", tokens_col(text_col))
    staged = staged.withColumn(
        "_wts", F.transform(F.col("_t"), lambda t: w_arr[_bucket(t, n_buckets, seed)])
    )
    raw = F.lit(int(bias)).cast("long") + F.aggregate(
        "_wts", F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        staged.withColumn("_raw", raw)
        .withColumn(score_col, (F.col("_raw") / F.lit(1_000_000.0)))
        .withColumn(pred_col, (F.col("_raw") > 0).cast("int"))
        .drop("_t", "_wts", "_raw")
    )


def _nb_score_arrow(
    df: DataFrame,
    weights: list[int],
    bias: int,
    text_col: str,
    seed: int,
    score_col: str,
    pred_col: str,
    id_col: str,
) -> DataFrame:
    import pyarrow as pa

    w = np.asarray(weights, dtype=np.int64)
    n_buckets = len(w)
    b = int(bias)
    sel = df.select(F.col(id_col), F.col(text_col).alias("_txt"))
    id_type = dict(sel.dtypes)[id_col]

    def run(batches):
        memo: dict = {}
        for batch in batches:
            ids = batch.column(0)
            occ, parents = _batch_occurrence_buckets(
                batch.column(1), n_buckets, seed, memo
            )
            raw = np.full(len(ids), b, dtype=np.int64)
            if len(occ):
                # bincount's float64 accumulation is EXACT here: every
                # addend and every partial sum is an integer far below
                # 2^53 (|w| <= ~2e7 micro-units, docs < 10^6 tokens)
                sums = np.bincount(parents, weights=w[occ], minlength=len(ids))
                raw += sums.astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(raw / 1_000_000.0, pa.float64()),
                    pa.array((raw > 0).astype(np.int32), pa.int32()),
                ],
                [id_col, score_col, pred_col],
            )

    return sel.mapInArrow(
        run, f"{id_col} {id_type}, {score_col} double, {pred_col} int"
    )


def nb_classifier_sql(
    label_sql: str,
    table: str = "documents",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    alpha: float = 0.5,
    seed: int = 1,
) -> str:
    """DuckDB mirror of nb_train + nb_score as one statement:
    identical md5 bucketing, identical fixed-point micro-log-odds
    weights, exact integer score sums.  ``label_sql`` is the boolean
    label expression (e.g. "lang = 'en'").

    Semantics mirrored EXACTLY, including the edge cases the sf fixtures
    never trigger: NULL labels count in NEITHER class (``lab IS TRUE`` /
    ``lab IS FALSE``, matching Spark's when/otherwise and null-skipping
    sums), and zero-token docs still score raw=bias (docsum LEFT JOIN
    from the full doc set, wsum coalesced to 0)."""
    return f"""
        WITH base AS (
          SELECT {id_col}, ({label_sql}) AS lab,
                 {tokens_sql("text")} AS t
          FROM {table}
        ), tok AS (
          SELECT {id_col}, lab,
                 CAST(CAST('0x' || substr(md5('{seed}:' || u.tok), 1, 8) AS UBIGINT)
                      % {n_buckets} AS INT) AS bkt
          FROM base, unnest(t) AS u(tok)
        ), counts AS (
          SELECT bkt,
                 sum(CASE WHEN lab IS TRUE THEN 1 ELSE 0 END) AS pos,
                 sum(CASE WHEN lab IS FALSE THEN 1 ELSE 0 END) AS neg
          FROM tok GROUP BY bkt
        ), tot AS (
          SELECT sum(pos) AS pt, sum(neg) AS nt FROM counts
        ), wts AS (
          SELECT g.b AS bkt,
                 CAST(round((ln((coalesce(c.pos, 0) + {alpha}) / (tot.pt + {alpha} * {n_buckets}))
                     - ln((coalesce(c.neg, 0) + {alpha}) / (tot.nt + {alpha} * {n_buckets})))
                     * 1000000) AS BIGINT) AS w
          FROM generate_series(0, {n_buckets} - 1) AS g(b)
          LEFT JOIN counts c ON c.bkt = g.b, tot
        ), prior AS (
          SELECT CAST(round(ln(CAST(sum(CASE WHEN lab IS TRUE THEN 1 ELSE 0 END) AS DOUBLE)
                        / sum(CASE WHEN lab IS FALSE THEN 1 ELSE 0 END)) * 1000000) AS BIGINT) AS bias
          FROM base
        ), docsum AS (
          SELECT tok.{id_col}, sum(wts.w) AS wsum
          FROM tok JOIN wts USING (bkt)
          GROUP BY tok.{id_col}
        ), scores AS (
          SELECT base.{id_col}, prior.bias + coalesce(d.wsum, 0) AS raw
          FROM base LEFT JOIN docsum d ON d.{id_col} = base.{id_col}, prior
        )
        SELECT {id_col}, raw / 1000000.0 AS score,
               CAST(CASE WHEN raw > 0 THEN 1 ELSE 0 END AS INT) AS pred
        FROM scores
    """
