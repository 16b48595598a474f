"""Deterministic frequent-items (Misra–Gries) over token streams.

The deterministic sibling of ``operators.emerging``'s CMCU prefilter:
per-partition MG summaries built in one Arrow pass (``build_partials``
with the ``tokens_str`` spec mode), tree-merged executor-side as
binary states (pointwise add + one decrement — Agarwal et al.'s
mergeable formulation), then either

* ``misra_gries_summary`` — the <=k (token, est, err) summary itself
  (est <= true <= est + err, deterministically), materialized
  executor-side from the merged state (no driver collect); or
* ``frequent_tokens_exact`` — the *exact* answer to "every token with
  freq * (k+1) > N", using the MG presence guarantee as the candidate
  pruner and one map-side-combined exact counting pass over the
  candidates (the shuffle carries only candidate tokens).  Integer
  comparison (cnt * (k+1) > N) keeps the threshold float-free, so a
  SQL oracle reproduces it exactly.

At 100 TB both passes scan once and shuffle only candidate-scale data;
the merged MG state is <= k counters regardless of input size.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F

from ..core import sketch_from_bytes
from ..core.misragries import MisraGries
from ..functions.text import _tokens, tokens_sql
from .aggregate import SketchSpec, _map_side_combine, build_partials, merge_partials
from .emerging import _cached_sketch, broadcast_sketch

__all__ = ["misra_gries_summary", "frequent_tokens_exact", "build_mg",
           "vocab_coverage", "vocab_coverage_sql"]


def build_mg(
    df: DataFrame, text_col: str = "text", k: int = 256, lowercase: bool = False
) -> DataFrame:
    """One-row DataFrame holding the merged binary MG state."""
    spec = SketchSpec("mg", "mg", text_col, mode="tokens_str",
                      lowercase=lowercase, params={"k": k})
    partials = build_partials(df.select(text_col), [spec])
    return merge_partials(partials, [])


def misra_gries_summary(
    df: DataFrame, text_col: str = "text", k: int = 256, lowercase: bool = False
) -> DataFrame:
    """(token, est, err) rows from the merged MG state — unpacked
    executor-side via mapInArrow on the one-row state table."""
    merged = build_mg(df, text_col, k, lowercase)

    def unpack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            states = tbl.column("state").to_pylist()
            specs = tbl.column("spec").to_pylist()
            for spec_name, blob in zip(specs, states):
                if spec_name != "mg":
                    continue
                mg = sketch_from_bytes(blob)
                items = mg.items()
                yield pa.RecordBatch.from_pydict(
                    {
                        "token": pa.array([t for t, _ in items], pa.string()),
                        "est": pa.array([c for _, c in items], pa.int64()),
                        "err": pa.array([mg.dec] * len(items), pa.int64()),
                    }
                )

    return merged.mapInArrow(unpack, "token string, est long, err long")


def _exact_candidate_counts(
    df: DataFrame, text_col: str, mg_bc, lowercase: bool
) -> DataFrame:
    """Exact counts of tokens present in the broadcast MG state: per
    batch Arrow value_counts filtered by summary membership, combined
    map-side — only candidate tokens ever shuffle."""

    def count(batch: pa.RecordBatch) -> pa.Table:
        mg: MisraGries = _cached_sketch(mg_bc)
        flat, _ = _tokens(batch.column(0), lowercase)
        vc = flat.value_counts()
        keep = pc.is_in(vc.field("values"), value_set=pa.array(list(mg.counters), pa.string()))
        return pa.table({"token": vc.field("values"), "cnt": vc.field("counts")}).filter(keep)

    return _map_side_combine(df.select(text_col), count, "token", {"cnt": "sum"})


def frequent_tokens_exact(
    df: DataFrame, text_col: str = "text", k: int = 200, lowercase: bool = False
) -> DataFrame:
    """Exact (token, cnt) for every token with cnt * (k+1) > N, where N
    is the total token count — MG guarantees the summary is a superset
    of that set, so one candidate-count pass finishes the job."""
    spec = SketchSpec("mg", "mg", text_col, mode="tokens_str",
                      lowercase=lowercase, params={"k": k})
    from .aggregate import sketch_aggregate

    mg: MisraGries = sketch_aggregate(df.select(text_col), [spec]).sketch("mg")
    bc = broadcast_sketch(df.sparkSession, mg)
    exact = _exact_candidate_counts(df, text_col, bc, lowercase)
    # integer threshold: cnt * (k+1) > N  <=>  cnt > N/(k+1), float-free
    return exact.filter(F.col("cnt") * F.lit(k + 1) > F.lit(mg.total))


def vocab_coverage(
    df: DataFrame,
    coverages_ppm: tuple[int, ...] = (500000, 900000, 990000, 999000),
    text_col: str = "text",
    lowercase: bool = False,
    counts: DataFrame | None = None,
) -> DataFrame:
    """(coverage_ppm, vocab_size, cutoff_count, covered_occ): for each
    requested coverage level (parts-per-million of all token
    occurrences), the MINIMAL number of highest-frequency token types
    whose summed occurrences reach it — the tokenizer/vocabulary design
    curve ("how big must the vocab be to cover 99.9% of the corpus"),
    plus the frequency cutoff where the threshold lands and the exact
    occurrences actually covered.

    All arithmetic is integer-exact: the needed occurrence mass is
    ``ceil(total * ppm / 1e6)`` in BIGINTs and the partial take inside
    the cutoff level is an integer ceil-division — no float knife-edge
    anywhere (the cross-engine float rule), so the whole curve sits
    under the value hash.

    Scale shape: token identities never matter — the curve is a pure
    function of the frequency-of-frequencies table.  One vocab-scale
    exchange builds exact counts (Arrow map-side combine,
    :func:`~sketch_spark.functions.text.ngram_count_df`), one tiny
    exchange folds them to (cnt, n_toks), and the cumulative step runs
    over that table only — at N total occurrences there are at most
    ``sqrt(2N)`` distinct frequency values (the sum of distinct counts
    is <= N), and Zipf corpora sit far below the bound, so the
    single-group prefix sum (:func:`bounded_prefix_sum`) is safe at any
    corpus size the vocab exchange itself survives.
    """
    for p in coverages_ppm:
        if not (0 < int(p) <= 1_000_000):
            raise ValueError(f"coverage_ppm must be in (0, 1e6]: {p}")
    from ..functions.text import ngram_count_df
    from .aggregate import bounded_prefix_sum

    counts = (
        counts
        if counts is not None
        else ngram_count_df(df, text_col=text_col, n=1, lowercase=lowercase)
    )
    fof = (
        counts.groupBy(F.col("cnt").cast("long").alias("cnt"))
        .agg(F.count("*").cast("long").alias("n_toks"))
        .withColumn("occ", (F.col("cnt") * F.col("n_toks")).cast("long"))
        .withColumn("_neg", (-F.col("cnt")).cast("long"))
    )
    fof = bounded_prefix_sum(fof, "_neg", "n_toks", "cum_toks_excl")
    fof = bounded_prefix_sum(fof, "_neg", "occ", "cum_occ_excl")
    cov = (
        fof.agg(F.sum("occ").cast("long").alias("_total"))
        .select(
            F.explode(
                F.array(*[F.lit(int(p)).cast("long") for p in coverages_ppm])
            ).alias("coverage_ppm"),
            "_total",
        )
        .withColumn(
            # ceil(total*ppm/1e6) WITHOUT the total*ppm product: at
            # 10^14 occurrences the naive BIGINT multiply overflows
            # (ANSI raises); split total = q*1e6 + r keeps every
            # intermediate <= total + 1e12
            "_need",
            F.expr(
                "(_total DIV 1000000) * coverage_ppm"
                " + ((_total % 1000000) * coverage_ppm + 999999) DIV 1000000"
            ).cast("long"),
        )
    )
    j = fof.crossJoin(F.broadcast(cov))
    picked = j.filter(
        (F.col("cum_occ_excl") < F.col("_need"))
        & (F.col("cum_occ_excl") + F.col("occ") >= F.col("_need"))
    ).withColumn(
        "_taken", F.expr("(_need - cum_occ_excl + cnt - 1) DIV cnt").cast("long")
    )
    return picked.select(
        "coverage_ppm",
        (F.col("cum_toks_excl") + F.col("_taken")).cast("long").alias("vocab_size"),
        F.col("cnt").alias("cutoff_count"),
        (F.col("cum_occ_excl") + F.col("_taken") * F.col("cnt"))
        .cast("long")
        .alias("covered_occ"),
    )


def vocab_coverage_sql(
    table_expr: str = "documents",
    text_col: str = "text",
    coverages_ppm: tuple[int, ...] = (500000, 900000, 990000, 999000),
    lowercase: bool = False,
) -> str:
    """DuckDB oracle for :func:`vocab_coverage` — the identical integer
    recurrence over the frequency-of-frequencies table."""
    ppm_list = ", ".join(str(int(p)) for p in coverages_ppm)
    return f"""
        WITH toks AS (
          SELECT unnest({tokens_sql(text_col, lowercase)}) AS tok
          FROM {table_expr}
        ), counts AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
        ), fof AS (
          SELECT cnt, CAST(count(*) AS BIGINT) AS n_toks,
                 CAST(cnt * count(*) AS BIGINT) AS occ
          FROM counts GROUP BY cnt
        ), cum AS (
          SELECT cnt, n_toks, occ,
                 CAST(coalesce(sum(n_toks) OVER w, 0) AS BIGINT) AS cum_toks_excl,
                 CAST(coalesce(sum(occ) OVER w, 0) AS BIGINT) AS cum_occ_excl
          FROM fof
          WINDOW w AS (ORDER BY cnt DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ), tot AS (
          SELECT CAST(sum(occ) AS BIGINT) AS total FROM fof
        ), cov AS (
          SELECT CAST(coverage_ppm AS BIGINT) AS coverage_ppm,
                 CAST((total // 1000000) * coverage_ppm
                      + ((total % 1000000) * coverage_ppm + 999999) // 1000000
                      AS BIGINT) AS need
          FROM (SELECT unnest([{ppm_list}]) AS coverage_ppm), tot
        )
        SELECT coverage_ppm,
               CAST(cum_toks_excl + (need - cum_occ_excl + cnt - 1) // cnt
                    AS BIGINT) AS vocab_size,
               cnt AS cutoff_count,
               CAST(cum_occ_excl
                    + ((need - cum_occ_excl + cnt - 1) // cnt) * cnt
                    AS BIGINT) AS covered_occ
        FROM cum, cov
        WHERE cum_occ_excl < need AND cum_occ_excl + occ >= need
    """
