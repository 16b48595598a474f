"""Composed corpus filtering: the end-to-end "keep or drop, and why"
gate a training-data pipeline runs over every document.

Each rule is a named FAIL predicate over pure-Catalyst signal columns
(token counts, distinct ratio, Gopher top-token ratio, ...), so the
whole pass is one codegen'd projection — no shuffle, no Python — and
the reasons string is deterministic (rule order = insertion order).
That also makes the full composition SQL-expressible, so the driver's
DuckDB gate hash-checks keep/reasons for every document
(contract query ``corpus_filter``).

At 100 TB this is a map-only stage fused into the scan; the usual
deployment writes `keep` partitioned output and routes the reject
stream + reasons to an audit sink (operators/checkpoint.py shapes).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..functions.text import _guarded_sql, repetition_columns, tokens_col, tokens_sql

__all__ = [
    "corpus_filter",
    "clean_corpus",
    "source_quality_report",
    "default_web_rules",
    "default_web_rules_sql",
]


def default_web_rules(
    text_col: str = "text",
    min_tokens: int = 25,
    max_tokens: int = 100,
    min_distinct_ratio: float = 0.35,
    max_top_token_ratio: float = 0.14,
) -> dict[str, Column]:
    """Name -> FAIL-predicate for the standard web-corpus gates
    (length window, vocabulary degeneracy, Gopher top-token cap).
    Thresholds are corpus-tuned knobs; these defaults split the
    synthetic fixture so every gate exercises both branches."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    distinct_ratio = F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(F.lit(0.0))
    top_ratio = repetition_columns(text_col, ns=())["top_token_ratio"]
    return {
        "too_short": n < min_tokens,
        "too_long": n > max_tokens,
        "low_distinct": distinct_ratio < min_distinct_ratio,
        "top_token": top_ratio > max_top_token_ratio,
    }


def default_web_rules_sql(
    min_tokens: int = 25,
    max_tokens: int = 100,
    min_distinct_ratio: float = 0.35,
    max_top_token_ratio: float = 0.14,
) -> dict[str, str]:
    """The same FAIL predicates over the oracle CTE's columns
    (n_tokens, distinct_ratio, top_token_ratio)."""
    return {
        "too_short": f"n_tokens < {min_tokens}",
        "too_long": f"n_tokens > {max_tokens}",
        "low_distinct": f"distinct_ratio < {min_distinct_ratio}",
        "top_token": f"top_token_ratio > {max_top_token_ratio}",
    }


def corpus_filter(
    docs: DataFrame,
    rules: dict[str, Column] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, keep, reasons): keep=true iff no rule fails; reasons is the
    comma-joined names of failed rules in rule order ('' when kept)."""
    if rules is None:
        rules = default_web_rules(text_col)
    flags = [
        F.when(cond, F.lit(name)).otherwise(F.lit(None)) for name, cond in rules.items()
    ]
    reasons = F.concat_ws(",", F.filter(F.array(*flags), lambda x: x.isNotNull()))
    return docs.select(
        F.col(id_col),
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


def clean_corpus(
    docs: DataFrame,
    rules: dict[str, Column] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The end-to-end corpus pass: quality gates (map-only, fused into
    the scan) THEN exact content dedup keeping the lowest id per md5.

    Deliberately filter-first: rejected docs never enter the dedup
    exchange, so the one shuffle here is on the md5 of the SURVIVING
    text only.  The dedup is a single window (row_number over the
    content hash), not a groupBy + join-back — one exchange instead of
    two, and with AQE's WindowGroupLimit only one candidate row per
    (hash, input partition) rides it."""
    if rules is None:
        rules = default_web_rules(text_col)
    fails = reduce(lambda a, b: a | b, rules.values())
    kept = docs.filter(~fails)
    w = W.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        kept.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def corpus_filter_sql(
    table_expr: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    rules_sql: dict[str, str] | None = None,
) -> str:
    """DuckDB oracle for ``corpus_filter`` with the default rules: the
    signal CTE computes the same ratios (``distinct_ratio`` unrounded,
    ``top_token_ratio`` rounded as ``repetition_columns`` rounds it,
    both 0.0 on zero-token text), and the reasons string concatenates
    failed names in the same order."""
    rules = rules_sql or default_web_rules_sql()
    flags = ", ".join(
        f"CASE WHEN {cond} THEN '{name}' ELSE NULL END" for name, cond in rules.items()
    )
    return f"""
        WITH base AS (
          SELECT {id_col},
                 {tokens_sql(text_col)} AS toks
          FROM {table_expr}
        ), tc AS (
          SELECT {id_col}, tok, count(*) AS c
          FROM (SELECT {id_col}, unnest(toks) AS tok FROM base)
          GROUP BY 1, 2
        ), top AS (
          SELECT {id_col}, max(c) AS mx, sum(c) AS n FROM tc GROUP BY 1
        ), sig AS (
          SELECT b.{id_col},
                 len(b.toks) AS n_tokens,
                 CASE WHEN len(b.toks) > 0
                      THEN len(list_distinct(b.toks)) / CAST(len(b.toks) AS DOUBLE)
                      ELSE 0.0 END AS distinct_ratio,
                 {_guarded_sql("len(b.toks)", "top.mx / CAST(top.n AS DOUBLE)")}
                   AS top_token_ratio
          FROM base b LEFT JOIN top ON b.{id_col} = top.{id_col}
        ), flagged AS (
          SELECT {id_col},
                 coalesce(array_to_string(
                     list_filter([{flags}], x -> x IS NOT NULL), ','), '') AS reasons
          FROM sig
        )
        SELECT {id_col}, reasons = '' AS keep, reasons FROM flagged
    """


def source_quality_report(
    docs: DataFrame,
    group_col: str = "source",
    rules: dict[str, Column] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group corpus health: doc count, mean length, gate pass-rate,
    exact-duplicate count — the dashboard a pipeline operator reads
    before deciding thresholds.  One projection for the signals, one
    md5 window for dup flags, one groupBy: two exchanges total, both
    on surviving semantics (nothing corpus-scale is collected)."""
    if rules is None:
        rules = default_web_rules(text_col)
    fails = reduce(lambda a, b: a | b, rules.values())
    n_tokens = F.size(tokens_col(text_col))
    w = W.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    per_doc = docs.select(
        F.col(group_col),
        n_tokens.alias("_n_tokens"),
        (~fails).cast("int").alias("_keep"),
        (F.row_number().over(w) > 1).cast("int").alias("_is_dup"),
    )
    return per_doc.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("_n_tokens"), 4).alias("avg_tokens"),
        F.sum("_keep").cast("long").alias("n_keep"),
        F.round(F.sum("_keep") / F.count("*"), 4).alias("keep_rate"),
        F.sum("_is_dup").cast("long").alias("n_exact_dups"),
    )


def source_quality_report_sql(
    table_expr: str = "documents",
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    rules_sql: dict[str, str] | None = None,
) -> str:
    """DuckDB oracle for ``source_quality_report`` (default rules)."""
    return f"""
        WITH keeps AS ({corpus_filter_sql(table_expr, id_col, text_col, rules_sql)}),
        per_doc AS (
          SELECT d.{group_col},
                 len({tokens_sql(f"d.{text_col}")}) AS n_tokens,
                 CASE WHEN k.keep THEN 1 ELSE 0 END AS keep,
                 CASE WHEN row_number() OVER (PARTITION BY md5(d.{text_col})
                                              ORDER BY d.{id_col}) > 1
                      THEN 1 ELSE 0 END AS is_dup
          FROM {table_expr} d JOIN keeps k ON d.{id_col} = k.{id_col}
        )
        SELECT {group_col},
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(n_tokens), 4) AS avg_tokens,
               CAST(sum(keep) AS BIGINT) AS n_keep,
               round(sum(keep) / CAST(count(*) AS DOUBLE), 4) AS keep_rate,
               CAST(sum(is_dup) AS BIGINT) AS n_exact_dups
        FROM per_doc GROUP BY {group_col}
    """


def clean_corpus_sql(
    table_expr: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    out_cols: tuple[str, ...] = ("lang", "source"),
) -> str:
    """DuckDB oracle for ``clean_corpus`` over the default rules:
    gate pass (reusing the corpus_filter oracle) then min-id-per-md5."""
    cols = ", ".join([id_col, *out_cols])
    return f"""
        WITH kept AS (
          SELECT d.{cols}, d.{text_col}
          FROM {table_expr} d
          JOIN ({corpus_filter_sql(table_expr, id_col, text_col)}) f
            ON d.{id_col} = f.{id_col} AND f.keep
        ), ranked AS (
          SELECT {cols},
                 row_number() OVER (PARTITION BY md5({text_col})
                                    ORDER BY {id_col}) AS rn
          FROM kept
        )
        SELECT {cols} FROM ranked WHERE rn = 1
    """
