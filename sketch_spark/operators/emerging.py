"""Emerging heavy hitters — the reference's flagship query (SURVEY.md §1.2).

Reference semantics (/root/reference/src/sketch.cpp:160-162, 179-245):
report token x iff (1) its CMCU estimate over the *test* stream reaches
``threshold`` and (2) estimate / growth strictly exceeds its exact
occurrence count in the *control* stream; reported frequency is the
pre-scaling estimate.

Distributed shape (one sketch job, one candidate job; SURVEY.md §7.2
"heavy-hitter emission timing"):

  sketch     test_df -> global merged CMCU               (sketch_aggregate)
  candidates test_df ∪ control_df, each row tagged by window
             -> per batch: estimate each occurrence's key against the
             *broadcast* merged sketch, keep est >= threshold, build
             gram strings for the kept occurrences only and count them
             per window, each carrying the estimate that admitted it
             -> groupBy(token): sum, sum, max        [_map_side_combine]
             — the shuffle carries ONLY candidate tokens, and the
             broadcast sketch itself decides membership in both windows
  final      drop tokens never seen in the test window, then filter
             est/growth > control_count

Because the final sketch estimate dominates every prefix estimate, the
candidate set is a superset of the reference's streaming upserts; the
control-subtraction filter is applied to exactly the same quantities.
``mode="exact"`` additionally verifies candidates against their exact
test counts — making the result the *exact* answer to
``count_test >= threshold AND count_test/growth > count_control`` with
the sketch acting as a pre-filter (SQL-oracle-checkable end to end).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F

from ..core import CountMinCU, sketch_from_bytes
from ..core.hashing import hash_strings
from ..functions.text import _gram_strings, _roll_ngrams, _tokens
from .aggregate import SketchSpec, _map_side_combine, sketch_aggregate

__all__ = ["emerging_heavy_hitters", "candidate_token_counts", "estimate_tokens_udf", "broadcast_sketch"]

# per-executor deserialized sketch cache (uuid -> object); broadcasts
# carry (uuid, blob) so workers deserialize each state exactly once
_SKETCH_CACHE: dict[str, object] = {}


def broadcast_sketch(spark, sketch) -> object:
    """Broadcast a sketch's binary state with a cache key."""
    import uuid

    return spark.sparkContext.broadcast((uuid.uuid4().hex, sketch.to_bytes()))


def _cached_sketch(sketch_bc):
    key, blob = sketch_bc.value
    sk = _SKETCH_CACHE.get(key)
    if sk is None:
        sk = sketch_from_bytes(blob)
        if len(_SKETCH_CACHE) > 8:
            _SKETCH_CACHE.clear()
        _SKETCH_CACHE[key] = sk
    return sk


def _window_candidates(
    tagged: DataFrame, sketch_bc, threshold: int, lowercase: bool, ngram: int
) -> DataFrame:
    """(token, test_count, control_count, est) over a (text, in_test)
    frame: exact per-window counts of the tokens (or word n-grams)
    whose global-sketch estimate reaches ``threshold``, and that
    estimate.

    The sketch is asked about each occurrence's key, the key it was
    built with (``hash_strings``, rolled by ``_roll_ngrams`` for
    n-grams); gram strings are built only for the occurrences that
    pass, and counted exactly per string.  Two grams sharing a 64-bit
    key therefore pass together but keep separate exact counts; one
    string has one key, so all its occurrences carry one estimate.
    """

    def count(batch: pa.RecordBatch) -> pa.Table:
        sketch = _cached_sketch(sketch_bc)
        flat, parents = _tokens(batch.column(0), lowercase)
        keys, same_row = _roll_ngrams(hash_strings(flat, seed=sketch.seed), parents, ngram)
        starts = np.flatnonzero(same_row)
        est = sketch.estimate_hashed(keys[starts])
        keep = est >= threshold
        starts, est = starts[keep], est[keep]
        grams = pc.dictionary_encode(_gram_strings(flat, starts, ngram))
        codes = grams.indices.to_numpy(zero_copy_only=False)
        in_test = batch.column(1).to_numpy(zero_copy_only=False)[parents[starts]]
        n = len(grams.dictionary)
        gram_est = np.zeros(n, np.int64)
        gram_est[codes] = est
        return pa.table({
            "token": grams.dictionary,
            "test_count": np.bincount(codes[in_test], minlength=n),
            "control_count": np.bincount(codes[~in_test], minlength=n),
            "est": gram_est,
        })

    aggs = {"test_count": "sum", "control_count": "sum", "est": "max"}
    return _map_side_combine(tagged, count, "token", aggs)


def _tagged(df: DataFrame, text_col: str, in_test: bool) -> DataFrame:
    return df.select(F.col(text_col), F.lit(in_test).alias("_in_test"))


def candidate_token_counts(
    df: DataFrame,
    text_col: str,
    sketch_bc,
    threshold: int,
    lowercase: bool = False,
    ngram: int = 1,
) -> DataFrame:
    """(token, cnt) exact counts of tokens (or word n-grams) whose
    global-sketch estimate reaches ``threshold`` — map-side combined,
    so the shuffle carries only candidate tokens
    (vocab-of-heavy-hitters scale, not data scale).  The one-window
    case of the emerging candidate pass."""
    cand = _window_candidates(_tagged(df, text_col, True), sketch_bc, threshold, lowercase, ngram)
    return cand.select("token", F.col("test_count").alias("cnt"))


def estimate_tokens_udf(sketch_bc):
    """pandas UDF: token column -> sketch estimate (broadcast state)."""

    @F.pandas_udf("long")
    def est(tokens: pd.Series) -> pd.Series:
        sketch = _cached_sketch(sketch_bc)
        vals = sketch.estimate_tokens(tokens.fillna("").tolist())
        return pd.Series(np.asarray(vals, dtype=np.int64))

    return est


def bloom_semi_join(
    big_df: DataFrame,
    keys_df: DataFrame,
    key_col: str,
    log2_bits: int = 24,
    k: int = 5,
    seed: int = 1,
    exact: bool = True,
) -> DataFrame:
    """Semi-join acceleration by Bloom pre-filter (A3's sketch-gates-
    the-expensive-operator idea applied to joins).

    Builds a Bloom filter over ``keys_df[key_col]``, broadcasts it, and
    drops big-side rows whose key cannot be present *before* any
    shuffle — the surviving rows (true matches + FPR-rate stragglers)
    then take the exact semi-join.  With ``exact=False`` the exact join
    is skipped entirely: output may contain false positives at the
    filter's FPR, but no shuffle of the big side ever happens — the
    right trade when the key set is huge and approximate membership is
    acceptable (e.g. "drop documents whose url we already crawled").
    """
    from ..operators.aggregate import SketchSpec, sketch_aggregate

    # keys hash as strings on BOTH sides (mode="value" on a numeric
    # column would use a different hash family than the probe)
    spec = SketchSpec(
        "bloom", "bloom", "_key_str", mode="value",
        params={"log2_bits": log2_bits, "k": k, "seed": seed},
    )
    keyed = keys_df.select(F.col(key_col).cast("string").alias("_key_str"))
    bloom = sketch_aggregate(keyed, [spec]).sketch("bloom")
    bc = broadcast_sketch(big_df.sparkSession, bloom)

    @F.pandas_udf("boolean")
    def maybe_member(keys: pd.Series) -> pd.Series:
        sk = _cached_sketch(bc)
        return pd.Series(sk.contains_tokens(keys.fillna("").astype(str).tolist()))

    pre = big_df.filter(maybe_member(F.col(key_col).cast("string")))
    if not exact:
        return pre
    return pre.join(keys_df.select(key_col).distinct(), key_col, "left_semi")


def emerging_heavy_hitters(
    test_df: DataFrame,
    control_df: DataFrame,
    text_col: str = "text",
    threshold: int = 100,
    growth: float = 2.0,
    depth: int = 4,
    log2_width: int = 14,
    seed: int = 1,
    mode: str = "reference",
    fanout: int | None = None,
    lowercase: bool = False,
    ngram: int = 1,
    prebuilt_sketch: CountMinCU | None = None,
) -> DataFrame:
    """Emerging-HH result DataFrame.

    mode="reference": filter on sketch estimate (est >= threshold AND
        est/growth > control_count), report freq = est — the
        reference's exact decision quantities.
    mode="exact": additionally require exact test counts; output is
        (token, freq=exact test count, control_count) — precisely the
        SQL ``HAVING cnt >= threshold AND cnt/growth > control_cnt``.
    """
    spark = test_df.sparkSession
    if prebuilt_sketch is None:
        spec = SketchSpec(
            "cmcu",
            "cmcu",
            text_col,
            mode="tokens",
            lowercase=lowercase,
            ngram=ngram,
            params={"depth": depth, "log2_width": log2_width, "seed": seed},
        )
        result = sketch_aggregate(test_df, [spec], fanout=fanout)
        sketch = result.sketch("cmcu")
    else:
        sketch = prebuilt_sketch
    bc = broadcast_sketch(spark, sketch)

    both = _tagged(test_df, text_col, True).unionByName(_tagged(control_df, text_col, False))
    cand = _window_candidates(both, bc, threshold, lowercase, ngram)
    # the test window's candidates only: a control-only key that passes
    # the sketch is no emerging token
    cand = cand.filter(F.col("test_count") > 0)
    if mode == "reference":
        # the reference stores est/GROWTH back into an int
        # (sketch.cpp:181 `heavy_hitter.second /= GROWTH`) before the
        # comparison — truncate (floor: est >= 0) to match exactly
        out = cand.filter(
            (F.col("est") >= threshold)
            & (F.floor(F.col("est") / F.lit(growth)) > F.col("control_count"))
        ).select(
            "token",
            F.col("est").alias("freq"),
            "test_count",
            "control_count",
        )
    elif mode == "exact":
        out = cand.filter(
            (F.col("test_count") >= threshold)
            & (F.col("test_count") / F.lit(growth) > F.col("control_count"))
        ).select(
            "token",
            F.col("test_count").alias("freq"),
            "control_count",
        )
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return out
