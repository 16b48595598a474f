"""Deduplication family for web-scale corpora.

Four tiers, each with a different cost/recall point (all built on the
same Arrow-vectorized shingle/hash machinery as the sketches):

* exact           — md5 content hash, groupBy; one shuffle of (hash, id).
* minhash + LSH   — shingle -> minhash signature -> banded bucket join;
                    only bucket-mates are compared, never all pairs.
* simhash         — 64-bit near-dup fingerprint; banded on 4x16-bit
                    chunks for Hamming<=3 candidate lookup.
* n-gram Jaccard  — exact verification of candidate pairs (and an
                    exact all-pairs oracle for tests at tiny scale).

Scale notes (100 TB): the only all-to-all operations are groupBys on
content hash / band buckets — both shuffle one small row per document,
and bucket sizes are capped (oversized buckets are degenerate shingle
sets — logged and truncated, never silently exploded into O(B^2) pairs).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..core.hashing import derive_seeds, hash_strings
from ..functions.text import (
    _roll_ngrams,
    tokenize_batch,
    tokens_col,
    tokens_sql,
    winnow_fingerprints_df,
    word_ngrams_col,
)

__all__ = [
    "exact_dedup",
    "minhash_signatures",
    "lsh_band_keys",
    "lsh_candidate_pairs",
    "write_minhash_index",
    "read_minhash_index",
    "incremental_near_duplicates",
    "near_duplicates_against_keys",
    "verify_jaccard_pairs_from_text",
    "minhash_near_duplicates",
    "dedup_corpus",
    "propagate_min_labels",
    "simhash",
    "simhash_candidate_pairs",
    "simhash_near_duplicates",
    "top_df_token_hashes",
    "contamination_report",
    "passage_duplicates",
    "duplicate_ngram_spans",
    "remove_duplicate_spans",
    "duplicate_ngram_spans_sql",
    "remove_duplicate_spans_sql",
    "boilerplate_lines",
    "remove_boilerplate_lines",
    "boilerplate_lines_sql",
    "remove_boilerplate_lines_sql",
]


# ---------------------------------------------------------------------------
# train/eval decontamination — pure Catalyst, SQL-oracle-checkable
# ---------------------------------------------------------------------------
def contamination_report(
    train_df: DataFrame,
    test_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
) -> DataFrame:
    """(train id, n_shared) for every training document sharing at
    least one word ``n``-gram with ANY eval document — the GPT-3-style
    n-gram decontamination scan that keeps benchmark text out of the
    training mix.

    Plan shape for 100 TB: the eval side is always benchmark-scale, so
    its distinct grams are BROADCAST; the training side's distinct
    per-doc grams stream through the broadcast hash join and only the
    contaminated (doc, gram) survivors reach the final groupBy —
    no shuffle of the training gram stream.  (If the eval side ever
    outgrew broadcast, drop the hint and let AQE pick the shuffle
    join; semantics identical.)
    """
    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(F.array_distinct(word_ngrams_col(text_col, n))).alias("gram"),
        )

    test_grams = grams(test_df).select("gram").distinct()
    return (
        grams(train_df)
        .join(F.broadcast(test_grams), "gram")
        .groupBy(id_col)
        .agg(F.countDistinct("gram").alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# exact dedup — pure Catalyst, SQL-oracle-checkable
# ---------------------------------------------------------------------------
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(content_md5, n_docs, keep_id): one row per distinct content;
    ``keep_id`` is the smallest id (the canonical survivor)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


# ---------------------------------------------------------------------------
# shingles + minhash
# ---------------------------------------------------------------------------
def _shingle_hashes(texts: pa.Array, k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(flat shingle-hash array, doc offsets) of word k-shingles per row."""
    flat, parents = tokenize_batch(texts)
    comb, valid = _roll_ngrams(hash_strings(flat, seed=seed), parents, k)
    sh = comb[valid]
    sh_parents = parents[: len(valid)][valid]
    n_rows = len(texts)
    counts = np.bincount(sh_parents, minlength=n_rows) if len(sh_parents) else np.zeros(n_rows, np.int64)
    offsets = np.concatenate([[0], np.cumsum(counts)])
    return sh, offsets.astype(np.int64)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 3,
    seed: int = 1,
) -> DataFrame:
    """(id, sig): per-document MinHash signature over word k-shingles.

    One Arrow pass; permutations are the standard (a*x+b mod p) family
    applied to the 64-bit shingle hashes, min-reduced per doc — all
    numpy, no per-row Python.
    """
    a = derive_seeds(seed, "mh-a", num_perm) | np.uint64(1)
    b = derive_seeds(seed, "mh-b", num_perm)
    SENTINEL = np.int64(np.iinfo(np.int64).max)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1)
            n_docs = len(ids)
            sh, offsets = _shingle_hashes(texts, shingle_k, seed)
            starts = offsets[:-1]
            empty_doc = offsets[1:] == starts
            # per-perm per-doc min via reduceat — no per-doc python loop
            # (duplicate shingles within a doc can't change a min)
            sigs = np.full((n_docs, num_perm), SENTINEL, dtype=np.int64)
            if len(sh):
                safe_starts = np.minimum(starts, len(sh) - 1)
                for j in range(num_perm):
                    v = ((a[j] * sh + b[j]) >> np.uint64(1)).astype(np.int64)
                    col = np.minimum.reduceat(v, safe_starts)
                    col[empty_doc] = SENTINEL
                    sigs[:, j] = col
            yield pa.RecordBatch.from_pydict(
                {
                    id_col: ids,
                    "sig": pa.ListArray.from_arrays(
                        np.arange(n_docs + 1, dtype=np.int32) * num_perm,
                        pa.array(sigs.ravel(), type=pa.int64()),
                    ),
                }
            )

    from .aggregate import ensure_min_partitions, long_ids

    return ensure_min_partitions(long_ids(df, id_col).select(id_col, text_col)).mapInArrow(
        run, f"{id_col} long, sig array<long>"
    )


def lsh_band_keys(sig_df: DataFrame, id_col: str = "doc_id", bands: int = 16) -> DataFrame:
    """(id, band, bucket) LSH keys — xxhash64 of each signature slice.
    A pure function of (sig, bands), so keys computed today and keys
    stored in an index written last month collide iff the slices are
    equal: the join contract for incremental dedup."""
    bands_col = F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda i: F.xxhash64(
                F.slice(
                    F.col("sig"),
                    i * (F.size("sig") / bands).cast("int") + 1,
                    (F.size("sig") / bands).cast("int"),
                ).cast("array<string>").cast("string"),
                i,
            ),
        )
    )
    return sig_df.select(F.col(id_col), bands_col.alias("band", "bucket"))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    max_bucket: int = 200,
    est_threshold: float = 0.0,
) -> DataFrame:
    """Banded LSH: equal signature slice -> same bucket -> candidate pair.

    rows_per_band = num_perm / bands; collision prob for Jaccard s is
    1-(1-s^r)^b.  The bucket stage carries the full signature so it can
    *estimate* Jaccard (fraction of agreeing minhash components —
    unbiased estimator) and emit only pairs with estimate >=
    ``est_threshold``; the expensive exact verify join then sees a
    near-final pair set instead of every bucket collision.  Buckets
    beyond ``max_bucket`` ids are capped and flagged via ``capped``
    (reported, never silently dropped) — an oversized bucket means
    degenerate near-identical content, where pair explosion is
    quadratic by nature.
    """
    # band on (id, band, bucket) ONLY — the 64-long signature array must
    # not ride through the bucket shuffles (measured: carrying it costs
    # ~10x on the banded exchange at 100k docs); signatures join back
    # below for just the surviving candidate pairs
    banded = lsh_band_keys(sig_df, id_col, bands)

    # pair generation stays ENTIRELY JVM-side (codegen) and costs ONE
    # exchange of the banded keys: a window partitioned by bucket
    # computes both the bucket size (filters the singleton majority —
    # no pair can come from a 1-row bucket) and the per-bucket rank
    # that caps degenerate buckets at their max_bucket smallest ids
    # (flagged, never silent); the surviving rows are ALREADY
    # partitioned by (band, bucket), so the groupBy into a per-bucket
    # id array adds no shuffle, the array is bounded by max_bucket
    # (safe to materialize at any corpus size), and the id_a < id_b
    # pairs explode from the sorted array map-side via nested
    # transform — no self-join.  (Two earlier revisions paid more for
    # the same answer: a groupBy + left_semi singleton pre-drop
    # re-shuffled the full banded set twice, and a bucket self-join
    # re-computed the window subtree per side — Catalyst does not CSE
    # across self-joins; together -0.9 s of the 2.1 s sf0.1 wall.)
    from pyspark.sql import Window as W

    wb = W.partitionBy("band", "bucket")
    ranked = banded.withColumn("_bn", F.count("*").over(wb)).withColumn(
        "_rn", F.row_number().over(wb.orderBy(id_col))
    )
    kept = ranked.filter((F.col("_bn") >= 2) & (F.col("_rn") <= max_bucket))
    buckets = kept.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list(id_col)).alias("_ids"),
        (F.first("_bn") > max_bucket).alias("capped"),
    )
    pair_expr = F.explode(
        F.flatten(
            F.transform(
                "_ids",
                lambda x, i: F.transform(
                    F.slice(F.col("_ids"), i + 2, F.size("_ids")),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    )
    cand = (
        buckets.select(pair_expr.alias("_p"), "capped")
        .select("_p.id_a", "_p.id_b", "capped")
        .groupBy("id_a", "id_b")
        .agg(F.max("capped").alias("capped"))
    )
    sig_a = sig_df.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig_df.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.size("sig_a")
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("sig_est", est)
        .filter(F.col("sig_est") >= est_threshold)
        .select("id_a", "id_b", "sig_est", "capped")
    )


def verify_jaccard_pairs_from_text(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """(id_a, id_b, jaccard): exact Jaccard verification of candidate
    pairs, J >= ``threshold``.  Text is RE-READ for just the candidate
    docs rather than carried as shingle arrays through the pipeline:
    only candidate-touched rows re-tokenize (a left-semi join prunes
    the text scan).  ``pairs`` rows must be distinct (both callers emit
    groupBy-deduped pairs): the single-join verify re-groups by
    (id_a, id_b).  Shingles are the space-joined word k-grams
    (Catalyst), so the values are exact set Jaccard over gram strings,
    free of hash collisions."""
    # the pair set is referenced three times below (id_a ids, id_b ids,
    # and the verify join) — materialize it once or each reference
    # recomputes the entire upstream LSH candidate DAG (measured 13x on
    # the sf0.1 bench: 1.4 s -> 18.5 s without this)
    pairs = pairs.localCheckpoint()
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    from .aggregate import ensure_min_partitions

    # the shingle re-tokenize is CPU-bound; a broadcast semi-join keeps
    # the scan's partitioning (possibly ONE split on a small file), so
    # spread before the projection (no-op on a well-split corpus scan)
    sh = (
        # dropDuplicates: one shingle row per candidate id even if the
        # caller's doc table carries replayed copies (the incremental
        # probe path unions new batch + stored docs — a re-probed id
        # would otherwise give every touching pair 3+ joined rows and
        # fail the _n == 2 presence check below)
        ensure_min_partitions(
            df.join(cand_ids, id_col, "left_semi").dropDuplicates([id_col])
        )
        .select(
            F.col(id_col),
            # NULL text -> NULL gram array; coalesce to empty so the
            # pair survives to a 0.0 jaccard instead of tripping the
            # ANSI out-of-bounds index on a 1-element collect_list
            F.coalesce(
                F.array_distinct(word_ngrams_col(text_col, shingle_k)),
                F.array().cast("array<string>"),
            ).alias("shingles"),
        )
    )
    # verify via ONE join: explode each pair into its two (pair, doc)
    # sides, join sh once, re-group by pair and intersect the two
    # collected arrays.  sh is referenced a single time, so the
    # candidate-restricted tokenize needs no localCheckpoint job (the
    # earlier two-sided join form re-tokenized per side unless a cut
    # materialized sh first — one whole extra job on the bench wall).
    # Shuffle volume matches the join form: candidate shingle arrays
    # cross the wire once for the join, once pair-keyed for the group.
    sides = pairs.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias(id_col)
    )
    both = (
        sides.join(sh, id_col)
        .groupBy("id_a", "id_b")
        .agg(F.collect_list("shingles").alias("_shs"), F.count("*").alias("_n"))
        # inner-join semantics of the two-sided form: a pair missing
        # either side's doc row never surfaces
        .filter(F.col("_n") == 2)
    )
    inter = F.size(F.array_intersect(F.col("_shs")[0], F.col("_shs")[1]))
    union = F.size(F.col("_shs")[0]) + F.size(F.col("_shs")[1]) - inter
    return (
        both.withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int | str = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 1,
) -> DataFrame:
    """End-to-end near-dup pairs: minhash -> LSH buckets (with
    signature-estimate pre-filter at threshold - 0.15 slack) -> exact
    Jaccard verify over the candidates' re-read text
    (``verify_jaccard_pairs_from_text``).  Output: (id_a, id_b,
    jaccard), id_a < id_b.

    ``bands="auto"`` picks the band count from (threshold, num_perm)
    via the S-curve tuner (``operators.tuning.choose_lsh_params``)."""
    if bands == "auto":
        from .tuning import choose_lsh_params

        bands, _ = choose_lsh_params(threshold, num_perm)
    # materialize once: the candidate plan reads the signature table
    # from parallel stages (band keys + both signature joins), which
    # otherwise each recompute the Arrow pass (measured 2x+ end-to-end
    # at 100k docs); a local checkpoint leaves no cached table behind
    sigs = minhash_signatures(
        df, id_col, text_col, num_perm, shingle_k, seed
    ).localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(
        sigs, id_col, bands, est_threshold=max(0.0, threshold - 0.15)
    )
    return verify_jaccard_pairs_from_text(
        pairs, df, id_col, text_col, threshold, shingle_k
    )


def dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int | str = 16,
    shingle_k: int = 3,
    seed: int = 1,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """The end-to-end training-data dedup step: drop exact and near
    duplicates, keeping one representative (smallest id) per duplicate
    *cluster* (connected components over the near-dup pair graph).
    ``pairs`` overrides the MinHash candidate stage with a precomputed
    (id_a, id_b) edge set (e.g. exact Jaccard pairs for oracle runs).

    Components are resolved by iterative label propagation (min-id
    spreads along edges until fixpoint) — each round is two joins over
    the PAIR set, which is candidate-scale, not corpus-scale, so the
    iteration cost is tiny relative to one pass over the data.  Web
    duplicate clusters are shallow (mirrors of one source), so rounds
    ~= O(log(cluster diameter)), typically 2-4.
    """
    if pairs is None:
        pairs = minhash_near_duplicates(
            df, id_col, text_col, num_perm, bands, shingle_k, threshold, seed
        )
    pairs = pairs.select("id_a", "id_b")
    labels = propagate_min_labels(pairs)
    drop = labels.filter(F.col("label") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def propagate_min_labels(pairs: DataFrame, max_rounds: int = 16) -> DataFrame:
    """(id, label) connected-component labels over an (id_a, id_b) edge
    set by min-id label propagation WITH pointer jumping; only ids that
    appear in an edge get a row (isolated nodes keep label=id
    implicitly — callers left-join and coalesce).

    Each round does (1) a neighbor-min step (min label spreads one hop
    along edges) and (2) a shortcut step label <- label(label), which
    halves remaining chain length — so convergence is O(log diameter)
    rounds even on path-shaped components (a chain of borderline
    near-dups), not O(diameter) as neighbor-min alone would be.  Every
    join is over the PAIR set — candidate-scale, not corpus-scale.
    Lineage is cut per round (localCheckpoint) so plans don't grow with
    iterations, and a fixpoint check stops early (web duplicate
    clusters are shallow, typically 2-4 rounds).
    """
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).localCheckpoint()
    # label propagation: label(x) = min(x, min label of neighbors)
    labels = (
        edges.select(F.col("id_a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):  # fixpoint for diameters up to ~2^max_rounds
        prop = (
            edges.join(labels, edges.id_b == labels.id)
            .groupBy("id_a")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(prop, labels.id == prop.id_a, "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
            F.col("label").alias("old_label"),
        )
        # pointer jumping: label <- label(label) (labels are ids, so the
        # self-join is over the same candidate-scale table)
        shortcut = stepped.select(
            F.col("id").alias("_sid"), F.col("label").alias("_slabel")
        )
        new_labels = (
            stepped.join(shortcut, stepped.label == shortcut._sid, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("_slabel"), F.col("label"))
                ).alias("new_label"),
                "old_label",
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("new_label") != F.col("old_label")).count()
        labels = new_labels.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    return labels


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------
def top_df_token_hashes(
    df: DataFrame,
    text_col: str = "text",
    k: int = 100,
    seed: int = 1,
    sample_fraction: float | None = None,
) -> np.ndarray:
    """Hashes of the ``k`` highest document-frequency tokens — the
    Zipf head that saturates SimHash bit votes on organic/templated
    corpora (every doc shares "the a of", so every doc's votes agree
    and fingerprints collapse toward one another; BENCH.md measured
    13.6M Hamming<=3 pairs at 500k organic docs before head-drop).

    One Arrow pass emits per-partition (token_hash, partial_df) for
    DISTINCT (doc, token) pairs — token-scale shuffle with map-side
    combine, never doc x token — then a groupBy sum + top-k.  The k
    hashes collected to the driver are a bounded k x 8 bytes.  At
    10^12 docs, pass ``sample_fraction`` (head df ranks are stable
    under uniform doc sampling, so ~10^6 sampled docs suffice) so the
    df pass scans a sliver instead of the corpus.
    """
    src = df.sample(fraction=sample_fraction, seed=seed) if sample_fraction else df

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            uniq, counts = _token_doc_freqs(batch.column(0), seed)
            if not len(uniq):
                continue
            yield pa.RecordBatch.from_pydict(
                {
                    "th": pa.array(uniq.view(np.int64)),
                    "df": pa.array(counts.astype(np.int64)),
                }
            )

    top = (
        src.select(text_col)
        .mapInArrow(run, "th long, df long")
        .groupBy("th")
        .agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), F.asc("th"))
        .limit(k)
        .collect()
    )
    return np.array([r["th"] for r in top], dtype=np.int64).view(np.uint64)


def _token_doc_freqs(texts: pa.Array, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(distinct token hash, number of rows holding it) of one batch."""
    flat, parents = tokenize_batch(texts)
    h = hash_strings(flat, seed=seed)
    # distinct (doc, token_hash), then df counts
    order = np.lexsort((h, parents))
    hs, ps = h[order], parents[order]
    keep = np.ones(len(hs), dtype=bool)
    keep[1:] = (ps[1:] != ps[:-1]) | (hs[1:] != hs[:-1])
    uniq, counts = np.unique(hs[keep], return_counts=True)
    return uniq, counts


def _simhash_fingerprints(texts: pa.Array, seed: int, drop: np.ndarray | None) -> np.ndarray:
    """64-bit SimHash per row of one batch; ``drop`` holds the token
    hashes left out of the votes (see ``simhash``)."""
    flat, parents = tokenize_batch(texts)
    h = hash_strings(flat, seed=seed)
    n_rows = len(texts)
    if drop is not None and len(h):
        mask = ~np.isin(h, drop)
        total = np.bincount(parents, minlength=n_rows)
        remain = np.bincount(parents[mask], minlength=n_rows)
        # all-head docs keep their full token set
        mask |= ((remain == 0) & (total > 0))[parents]
        h, parents = h[mask], parents[mask]
    fp = np.zeros(n_rows, dtype=np.uint64)
    if len(h):
        # bit votes: for each of 64 bits, sum(+1/-1) per doc
        votes = np.zeros((n_rows, 64), dtype=np.int64)
        for bit in range(64):
            b = ((h >> np.uint64(bit)) & np.uint64(1)).astype(np.int64) * 2 - 1
            votes[:, bit] = np.bincount(parents, weights=b, minlength=n_rows)
        fp = (votes > 0).astype(np.uint64) @ (np.uint64(1) << np.arange(64, dtype=np.uint64))
    return fp


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 1,
    drop_top_df: int = 0,
    df_sample_fraction: float | None = None,
) -> DataFrame:
    """64-bit SimHash per document from token hashes (count-weighted
    bit voting), plus 4x16-bit band keys for Hamming-distance blocking.

    ``drop_top_df=K`` excludes the K highest-document-frequency tokens
    from the bit votes (standard stop-word treatment for SimHash on
    Zipf-like corpora): head tokens appear in nearly every document,
    so they push every fingerprint toward the same bit pattern and the
    Hamming<=3 candidate graph densifies quadratically.  Dropping the
    head leaves the votes to the discriminative tail.  A document
    whose tokens are ALL head tokens falls back to voting with its
    full token set (never a zero-vote all-bits-clear fingerprint,
    which would spuriously bucket such docs together).
    """
    from .aggregate import ensure_min_partitions, long_ids

    df = long_ids(df, id_col)
    drop = (
        top_df_token_hashes(df, text_col, drop_top_df, seed, df_sample_fraction)
        if drop_top_df > 0
        else None
    )
    bc = df.sparkSession.sparkContext.broadcast(drop) if drop is not None else None

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_ = bc.value if bc is not None else None
        for batch in batches:
            fp = _simhash_fingerprints(batch.column(1), seed, drop_)
            out = {
                id_col: batch.column(0),
                "simhash": pa.array((fp >> np.uint64(1)).astype(np.int64)),
            }
            for band in range(4):
                out[f"band{band}"] = pa.array(
                    ((fp >> np.uint64(16 * band)) & np.uint64(0xFFFF)).astype(np.int64)
                )
            yield pa.RecordBatch.from_pydict(out)

    schema = f"{id_col} long, simhash long, band0 long, band1 long, band2 long, band3 long"
    return ensure_min_partitions(df.select(id_col, text_col)).mapInArrow(run, schema)


def simhash_candidate_pairs(
    sim_df: DataFrame, id_col: str = "doc_id", max_bucket: int = 1000
) -> DataFrame:
    """Pairs sharing any 16-bit band (necessary condition for Hamming
    distance <= 3 by pigeonhole over 4 bands).

    Same bounded-bucket treatment as ``lsh_candidate_pairs``: singleton
    (band, bucket) groups are eliminated JVM-side, and a degenerate
    bucket (>``max_bucket`` members — with only 2^16 buckets per band,
    E[bucket] grows linearly in corpus size) is truncated to its
    ``max_bucket`` smallest ids with ``capped=true`` on the emitted
    pairs, so pair count is bounded by buckets x max_bucket^2 instead
    of growing as N^2/65536 — the cap is flagged, never silent.
    """
    longf = sim_df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket")
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    multi = (
        longf.groupBy("band", "bucket")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("band", "bucket")
    )
    longf = longf.join(multi, ["band", "bucket"], "left_semi")

    # JVM-side pair generation (same shape as lsh_candidate_pairs): a
    # per-bucket window caps the bucket, a bucket self-join emits the
    # id_a < id_b candidates — no Python stage
    from pyspark.sql import Window as W

    wb = W.partitionBy("band", "bucket")
    ranked = longf.withColumn("_bn", F.count("*").over(wb)).withColumn(
        "_rn", F.row_number().over(wb.orderBy(id_col))
    )
    kept = ranked.filter(F.col("_rn") <= max_bucket)
    left = kept.select(
        "band", "bucket", F.col(id_col).alias("id_a"),
        (F.col("_bn") > max_bucket).alias("capped"),
    )
    right = kept.select("band", "bucket", F.col(id_col).alias("id_b"))
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.max("capped").alias("capped"))
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 1,
    max_bucket: int = 1000,
    drop_top_df: int = 0,
    df_sample_fraction: float | None = None,
) -> DataFrame:
    """End-to-end SimHash near-dup pairs: fingerprint -> banded
    candidates -> EXACT Hamming verification, all verification JVM-side
    (``bit_count(xor)`` in codegen).

    ``drop_top_df=K`` (see ``simhash``) is the Zipf-corpora knob: it
    cuts candidate density by orders of magnitude on organic/templated
    text (measured in BENCH.md) by keeping head tokens out of the bit
    votes, so the verify join sees a discriminative candidate set and
    the bucket cap stops costing recall.

    The stored ``simhash`` column is the 64-bit fingerprint shifted
    right once (to fit signed int64); the dropped low bit is recovered
    from ``band0`` (the fingerprint's low 16 bits), so the Hamming
    distance is over the FULL 64 bits.  By pigeonhole over the 4 bands,
    every pair with distance <= 3 shares a band, so recall is 1.0 up to
    the flagged bucket cap.  Output: (id_a, id_b, hamming, capped).
    """
    # the fingerprint table feeds candidate generation AND both
    # verify joins — materialize it once so parallel stages don't each
    # recompute the Arrow pass (a local checkpoint caches nothing)
    sim = simhash(
        df, id_col, text_col, seed, drop_top_df, df_sample_fraction
    ).localCheckpoint(eager=True)
    pairs = simhash_candidate_pairs(sim, id_col, max_bucket)
    a = sim.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("h_a"),
        (F.col("band0") % 2).alias("b_a"),
    )
    b = sim.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("h_b"),
        (F.col("band0") % 2).alias("b_b"),
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))) + (
        F.col("b_a") != F.col("b_b")
    ).cast("int")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming", "capped")
    )


# ---------------------------------------------------------------------------
# passage-level duplicate detection — shared winnowing fingerprints
# ---------------------------------------------------------------------------
def passage_duplicates(
    docs: DataFrame,
    k: int = 5,
    window: int = 8,
    min_shared: int = 2,
    max_df: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing >= ``min_shared``
    winnowing fingerprints — passage-level duplication (copied spans of
    >= k+window-1 words) that whole-document MinHash misses when the
    surrounding text differs.

    Scale shape: fingerprints whose document frequency is 1 (can never
    pair) or > ``max_df`` (boilerplate spans — navigation chrome,
    license headers — the passage analog of the SimHash Zipf head-drop)
    are eliminated BEFORE the self-join, so each fingerprint group
    contributes at most max_df^2/2 candidate pairs and the join is
    bounded no matter how templated the corpus.  One exchange on the
    fingerprint; the df filter reuses the same partitioning.

    Every number here is a pure function of md5, so the whole operator
    sits under the DuckDB value-hash gate (contract query
    ``passage_dups``).
    """
    # the staged (per-level materialized) winnow form: the Column form
    # re-evaluates each doubling level twice through zip_with, i.e.
    # 2^levels gram-pipeline evaluations per row (text.py docstring)
    fps = winnow_fingerprints_df(docs, text_col, id_col, k, window)
    # referenced three times (df count + both self-join sides):
    # materialize ONCE or every branch recomputes the fingerprint
    # pipeline — same lesson as the LSH pair set (dedup.py round 3)
    fps = fps.localCheckpoint(eager=True)
    dfc = fps.groupBy("fp").agg(F.count("*").alias("_df"))
    kept = fps.join(
        dfc.filter((F.col("_df") >= 2) & (F.col("_df") <= max_df)).select("fp"),
        "fp",
    )
    a = kept.select(F.col("id").alias("id_a"), "fp")
    b = kept.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def passage_duplicates_sql(
    table_expr: str = "documents",
    k: int = 5,
    window: int = 8,
    min_shared: int = 2,
    max_df: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for ``passage_duplicates`` (same winnowing
    fingerprints, same df band, same pair threshold)."""
    return f"""
        WITH toks AS (
          SELECT {id_col}, {tokens_sql(text_col)} AS t
          FROM {table_expr}
        ), grams AS (
          SELECT {id_col},
                 [md5(array_to_string(t[i:i+{k - 1}], ' '))
                  FOR i IN generate_series(1, len(t)-{k - 1})] AS h
          FROM toks
        ), fpl AS (
          SELECT {id_col},
                 CASE WHEN len(h) >= {window} THEN
                        list_distinct([list_min(h[i:i+{window - 1}])
                                       FOR i IN generate_series(1, len(h)-{window - 1})])
                      WHEN len(h) > 0 THEN [list_min(h)]
                      ELSE [] END AS fps
          FROM grams
        ), fps AS (
          SELECT {id_col} AS id, unnest(fps) AS fp FROM fpl
        ), dfc AS (
          SELECT fp FROM (SELECT fp, count(*) AS c FROM fps GROUP BY 1)
          WHERE c BETWEEN 2 AND {max_df}
        ), kept AS (
          SELECT f.id, f.fp FROM fps f JOIN dfc USING (fp)
        )
        SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id
        GROUP BY 1, 2 HAVING count(*) >= {min_shared}
    """


# ---------------------------------------------------------------------------
# duplicate n-gram SPAN removal (ExactSubstr-style, Lee et al. 2022)
# ---------------------------------------------------------------------------
# dup-set size (8-byte hashes: 128 MB) up to which span pass 2 probes a
# sorted broadcast; a larger dup set goes through a shuffle semi join
_SPAN_BROADCAST_CAP = 16_000_000


def duplicate_ngram_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """(doc_id, span_start, span_end, span_tokens): maximal token spans
    covered by word ``n``-grams that occur >= ``min_count`` times in the
    WHOLE corpus (including repeats inside one document) — the
    "deduplicating training data" ExactSubstr pass, at token-n-gram
    rather than suffix-array granularity.  Whole-document dedup
    (exact/minhash/simhash above) misses copied passages embedded in
    otherwise-unique pages; this finds exactly those spans so they can
    be cut instead of dropping the document.

    Span semantics: a duplicated gram at token position p covers
    p..p+n-1; overlapping/adjacent covers merge (gaps-and-islands over
    positions: a new span starts when pos > prev_pos + n).  Positions
    are 0-based over whitespace tokens.

    Plan (960 s -> 75 s against a posexplode-of-gram-strings form at
    500k organic docs / 550M grams, BENCH.md):
      1. Every token occurrence is hashed once (``hash_strings``) and
         the n-gram hashes roll over those (``_roll_ngrams``): no gram
         string ever materializes.  Pass 1 counts gram hashes through
         ``_map_side_combine``, so the exchange carries each
         partition's unique 8-byte hashes with partial counts — never
         the occurrence stream.
      2. Pass 2 re-derives (row, position) per gram from a fresh scan
         and emits ONLY the hits: one MapInArrow against a sorted
         broadcast of the dup set when it holds <=
         ``_SPAN_BROADCAST_CAP`` hashes (the occurrence stream never
         shuffles), else a shuffle semi join on the hash
         (boilerplate-heavy corpora whose dup set itself is huge).
      3. Island merge: one window over (doc, pos) on the hits only.
    The output equals the DuckDB gram-string oracle up to 64-bit
    gram-hash collisions.
    """
    if n < 2:
        raise ValueError("span dedup needs n >= 2 (n=1 removes every repeated token)")
    from .aggregate import _map_side_combine, ensure_min_partitions, long_ids

    seed = 1
    src = ensure_min_partitions(long_ids(docs, id_col).select(id_col, text_col))

    def count(batch: pa.RecordBatch) -> pa.Table:
        hs, _, _ = _ngram_hash_positions(batch.column(0), n, seed)
        uniq, counts = np.unique(hs, return_counts=True)
        return pa.table({"h": pa.array(uniq.view(np.int64)), "c": pa.array(counts)})

    counts = _map_side_combine(src.select(text_col), count, "h", {"c": "sum"}, key_type="long")
    dup = counts.filter(F.col("c") >= min_count).select("h").localCheckpoint(eager=True)
    n_dup = dup.count()

    if n_dup <= _SPAN_BROADCAST_CAP:
        # Arrow-backed transfer: row-based collect() of a multi-million
        # row dup set pays per-Row python overhead; toPandas streams
        # Arrow batches
        dup_arr = np.sort(dup.toPandas()["h"].to_numpy(np.int64))
        bc = docs.sparkSession.sparkContext.broadcast(dup_arr)

        def hit_run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            d = bc.value
            if len(d) == 0:
                return
            for batch in batches:
                ids = batch.column(0)
                hs, rows, pos = _ngram_hash_positions(batch.column(1), n, seed)
                if not len(hs):
                    continue
                sh = hs.view(np.int64)
                loc = np.minimum(np.searchsorted(d, sh), len(d) - 1)
                hit = d[loc] == sh
                if not hit.any():
                    continue
                yield pa.RecordBatch.from_pydict(
                    {
                        id_col: ids.take(pa.array(rows[hit])),
                        "pos": pa.array(pos[hit]),
                    }
                )

        hits = src.mapInArrow(hit_run, f"{id_col} long, pos long")
    else:
        def occ_run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                ids = batch.column(0)
                hs, rows, pos = _ngram_hash_positions(batch.column(1), n, seed)
                if not len(hs):
                    continue
                yield pa.RecordBatch.from_pydict(
                    {
                        id_col: ids.take(pa.array(rows)),
                        "pos": pa.array(pos),
                        "h": pa.array(hs.view(np.int64)),
                    }
                )

        occ = src.mapInArrow(occ_run, f"{id_col} long, pos long, h long")
        hits = occ.join(dup, "h", "left_semi").select(id_col, "pos")
    return _merge_hit_spans(hits, id_col, n)


def _merge_hit_spans(hits: DataFrame, id_col: str, n: int) -> DataFrame:
    """Gaps-and-islands merge of duplicated gram positions into maximal
    spans — runs over the HIT stream only (duplicated positions, a
    small fraction of the corpus)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    flagged = hits.withColumn(
        "_new", F.when(prev.isNull() | (F.col("pos") > prev + n), 1).otherwise(0)
    )
    isl = flagged.withColumn("_isl", F.sum("_new").over(w))
    return (
        isl.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).cast("long").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def _ngram_hash_positions(
    texts: pa.Array, n: int, seed: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(gram hashes, batch row index, 0-based token position) for every
    in-row n-gram occurrence — rolling combine over the per-occurrence
    token hashes; gram strings never materialize."""
    flat, parents = tokenize_batch(texts)
    combined, same_row = _roll_ngrams(hash_strings(flat, seed=seed), parents, n)
    rows = parents[: len(same_row)][same_row]
    # token position inside the row: flat index minus the row's start
    counts = np.bincount(parents, minlength=len(texts))
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    pos = np.flatnonzero(same_row) - starts[rows]
    return combined[same_row], rows, pos


def remove_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_count: int = 2,
    spans: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, clean_text, n_tokens, n_removed): documents with every
    corpus-duplicated n-gram span (see ``duplicate_ngram_spans``) cut
    out and the surviving tokens re-joined with single spaces.

    Join shape: spans collapse to one array-of-intervals row per
    AFFECTED document (most documents have none), left-joined back to
    the corpus; the token filter is a codegen higher-order function
    (filter with index + exists over the interval array) — no shuffle
    of unaffected documents beyond the join exchange, no Python.
    """
    spans = (
        spans
        if spans is not None
        else duplicate_ngram_spans(docs, text_col, id_col, n, min_count)
    )
    sp = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
        ).alias("_spans")
    )
    empty = F.array().cast("array<struct<s:long,e:long>>")
    joined = (
        docs.select(id_col, text_col)
        .join(sp, id_col, "left")
        .select(
            id_col,
            tokens_col(text_col).alias("_t"),
            F.coalesce("_spans", empty).alias("_spans"),
        )
    )
    kept = F.filter(
        "_t",
        lambda x, i: ~F.exists(
            "_spans", lambda z: (i >= z["s"]) & (i <= z["e"])
        ),
    )
    return joined.select(
        id_col,
        F.array_join(kept, " ").alias("clean_text"),
        F.size("_t").cast("long").alias("n_tokens"),
        (F.size("_t") - F.size(kept)).cast("long").alias("n_removed"),
    )


def _dup_span_cte(
    table_expr: str, text_col: str, id_col: str, n: int, min_count: int
) -> str:
    """Shared DuckDB CTE chain computing the merged duplicate spans."""
    return f"""
        WITH toks AS (
          SELECT {id_col}, {tokens_sql(text_col)} AS t
          FROM {table_expr}
        ), gl AS (
          SELECT {id_col},
                 [array_to_string(t[i:i+{n - 1}], ' ')
                  FOR i IN generate_series(1, greatest(len(t) - {n - 1}, 0))] AS gs
          FROM toks
        ), grams AS (
          SELECT {id_col}, unnest(gs) AS gram,
                 generate_subscripts(gs, 1) - 1 AS pos
          FROM gl
        ), dup AS (
          SELECT gram FROM grams GROUP BY gram HAVING count(*) >= {min_count}
        ), hits AS (
          SELECT g.{id_col}, g.pos FROM grams g JOIN dup USING (gram)
        ), flag AS (
          SELECT {id_col}, pos,
                 CASE WHEN lag(pos) OVER w IS NULL
                           OR pos > lag(pos) OVER w + {n} THEN 1 ELSE 0 END AS new_isl
          FROM hits WINDOW w AS (PARTITION BY {id_col} ORDER BY pos)
        ), isl AS (
          SELECT {id_col}, pos,
                 sum(new_isl) OVER (PARTITION BY {id_col} ORDER BY pos) AS island
          FROM flag
        ), spans AS (
          SELECT {id_col}, CAST(min(pos) AS BIGINT) AS span_start,
                 CAST(max(pos) + {n - 1} AS BIGINT) AS span_end
          FROM isl GROUP BY {id_col}, island
        )
    """


def duplicate_ngram_spans_sql(
    table_expr: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_count: int = 2,
) -> str:
    """DuckDB oracle for ``duplicate_ngram_spans`` (gram-string keyed —
    the hash-keyed Spark path matches it up to 64-bit gram-hash
    collisions)."""
    return (
        _dup_span_cte(table_expr, text_col, id_col, n, min_count)
        + f"""
        SELECT {id_col}, span_start, span_end,
               span_end - span_start + 1 AS span_tokens
        FROM spans
    """
    )


def remove_duplicate_spans_sql(
    table_expr: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_count: int = 2,
) -> str:
    """DuckDB oracle for ``remove_duplicate_spans``."""
    return (
        _dup_span_cte(table_expr, text_col, id_col, n, min_count)
        + f"""
        , sp AS (
          SELECT {id_col},
                 list(struct_pack(s := span_start, e := span_end)) AS spans
          FROM spans GROUP BY {id_col}
        )
        SELECT t.{id_col},
               coalesce(array_to_string(
                 [t.t[i] FOR i IN generate_series(1, len(t.t))
                  IF len(list_filter(coalesce(sp.spans, []),
                                     z -> i - 1 BETWEEN z.s AND z.e)) = 0],
                 ' '), '') AS clean_text,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(list_filter([len(list_filter(coalesce(sp.spans, []),
                                          z -> i - 1 BETWEEN z.s AND z.e)) > 0
                          FOR i IN generate_series(1, len(t.t))],
                         covered -> covered)) AS BIGINT) AS n_removed
        FROM toks t LEFT JOIN sp ON t.{id_col} = sp.{id_col}
    """
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs a persisted MinHash index
# ---------------------------------------------------------------------------
_MINHASH_META = "_minhash_index_meta.json"


def write_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 3,
    seed: int = 1,
    bands: int = 16,
    mode: str = "overwrite",
) -> dict:
    """Persist the LSH band keys of a corpus — (id, band, bucket),
    partitioned by ``band`` — plus a sidecar recording the hash-family
    parameters, so future batches can be deduped against this corpus
    WITHOUT recomputing its signatures (the daily-dump production
    pattern: index once, probe every new crawl).

    ``mode="append"`` adds a new batch's keys to an existing index
    (write the batch's SURVIVORS after ``incremental_near_duplicates``
    so the index stays duplicate-free).  At real scale the parquet
    layout maps 1:1 onto an Iceberg table bucketed by (band, bucket).
    Returns the meta dict.
    """
    import json
    import os

    meta = {
        "version": 1,
        "id_col": id_col,
        "num_perm": num_perm,
        "shingle_k": shingle_k,
        "seed": seed,
        "bands": bands,
    }
    meta_path = os.path.join(path, _MINHASH_META)
    if mode == "append" and os.path.exists(meta_path):
        stored = json.load(open(meta_path))
        if {k: stored.get(k) for k in meta} != meta:
            raise ValueError(
                f"index at {path} was built with different parameters: {stored}"
            )
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_k, seed)
    keys = lsh_band_keys(sigs, id_col, bands)
    keys.write.mode(mode).partitionBy("band").parquet(os.path.join(path, "keys"))
    os.makedirs(path, exist_ok=True)
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta


def read_minhash_index(spark, path: str) -> tuple[DataFrame, dict]:
    """(keys DataFrame, meta dict) for an index written by
    ``write_minhash_index``."""
    import json
    import os

    meta = json.load(open(os.path.join(path, _MINHASH_META)))
    keys = spark.read.parquet(os.path.join(path, "keys"))
    return keys, meta


def incremental_near_duplicates(
    new_df: DataFrame,
    index_path: str,
    old_docs: DataFrame,
    threshold: float = 0.5,
    id_col: str | None = None,
    text_col: str = "text",
    max_bucket: int = 200,
) -> DataFrame:
    """(id_new, id_old, jaccard): near-duplicate pairs between a NEW
    batch and an already-indexed corpus, J >= ``threshold`` — corpus
    signatures are NOT recomputed; only the stored band keys are read.

    Plan shape: the batch's keys (16 rows/doc) join the index on
    (band, bucket) — batch-scale against an index scan, with AQE free
    to broadcast the batch side when the day's crawl is small; the
    corpus-side bucket membership is capped at ``max_bucket`` ids per
    (band, bucket) with a ``capped`` flag (degenerate boilerplate
    buckets, same treatment as ``lsh_candidate_pairs``).  Exact Jaccard
    verification re-reads TEXT for the candidate ids only, from the
    union of both corpora (``verify_jaccard_pairs_from_text``).
    """
    spark = new_df.sparkSession
    old_keys, meta = read_minhash_index(spark, index_path)
    id_col = id_col or meta["id_col"]
    return near_duplicates_against_keys(
        new_df, old_keys, old_docs, meta, threshold, id_col, text_col, max_bucket
    )


def near_duplicates_against_keys(
    new_df: DataFrame,
    old_keys: DataFrame,
    old_docs: DataFrame,
    meta: dict,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 200,
) -> DataFrame:
    """Core of ``incremental_near_duplicates`` with the stored band
    keys passed as a DataFrame instead of an index path — the seam the
    streaming wrapper (``streaming.dedup_stream``) probes epoch-
    partitioned key layouts through.  ``meta`` carries the hash-family
    parameters (``write_minhash_index`` schema); extra columns on
    ``old_keys`` (e.g. an ``epoch`` partition) are ignored."""
    sigs = minhash_signatures(
        new_df,
        id_col,
        text_col,
        meta["num_perm"],
        meta["shingle_k"],
        meta["seed"],
    )
    new_keys = lsh_band_keys(sigs, id_col, meta["bands"]).withColumnRenamed(
        id_col, "id_new"
    )
    old_keys = old_keys.select(id_col, "band", "bucket")

    from pyspark.sql import Window as W

    # restrict the index to buckets the batch actually probes BEFORE
    # the window cap: the cap then ranks a candidate-scale slice, not
    # the whole corpus-scale index (at 10^12 docs the unrestricted
    # window would shuffle every stored key)
    probed = new_keys.select("band", "bucket").distinct()
    old_probed = old_keys.withColumnRenamed(id_col, "id_old").join(
        probed, ["band", "bucket"], "left_semi"
    )
    wb = W.partitionBy("band", "bucket")
    old_ranked = (
        old_probed
        .withColumn("_bn", F.count("*").over(wb))
        .withColumn("_rn", F.row_number().over(wb.orderBy("id_old")))
        .filter(F.col("_rn") <= max_bucket)
        .select("band", "bucket", "id_old", (F.col("_bn") > max_bucket).alias("capped"))
    )
    # the verify below references the candidate set several times (two
    # id projections + two shingle joins): cut lineage once or each
    # reference re-runs the batch signatures AND the index join
    # (measured 354 s -> 40 s on a 50k-batch-vs-450k-index probe)
    cand = (
        new_keys.join(old_ranked, ["band", "bucket"])
        .groupBy("id_new", "id_old")
        .agg(F.max("capped").alias("capped"))
        .localCheckpoint(eager=True)
    )
    all_docs = new_df.select(F.col(id_col), F.col(text_col)).unionByName(
        old_docs.select(F.col(id_col), F.col(text_col))
    )
    verified = verify_jaccard_pairs_from_text(
        cand.select(F.col("id_new").alias("id_a"), F.col("id_old").alias("id_b")),
        all_docs,
        id_col,
        text_col,
        threshold,
        meta["shingle_k"],
    )
    return verified.select(
        F.col("id_a").alias("id_new"),
        F.col("id_b").alias("id_old"),
        "jaccard",
    )


# ---------------------------------------------------------------------------
# line-level boilerplate dedup (CCNet / C4 "line appears in >= N documents")


def _trimmed_lines(text_col: str | F.Column, sep: str = "\n") -> F.Column:
    """Raw ``sep``-split units of ``text_col`` with per-unit trim applied —
    the normalization under which unit equality is judged.  ``sep`` must
    be a literal (no regex metacharacters): Spark splits by regex,
    DuckDB's string_split is literal, and the two must agree."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.transform(F.split(col, sep), lambda x: F.trim(x))


def boilerplate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
    min_chars: int = 10,
    key: str = "hash",
    sep: str = "\n",
) -> DataFrame:
    """(line_key, n_docs): trimmed units of >= ``min_chars`` characters
    that appear in >= ``min_docs`` DISTINCT documents — the CCNet /
    C4-style boilerplate-line detector ("Exploring the Limits of
    Transfer Learning", Raffel et al. 2020 removed any line occurring
    three or more times; CCNet, Wenzek et al. 2020 dedups at paragraph/
    line granularity).  Whole-document and span dedup both miss the
    cookie-banner / nav-menu / copyright-footer lines that repeat across
    otherwise-unique pages; this finds exactly those.

    Key modes (``key`` sets the type of ``line_key``, so
    :func:`remove_boilerplate_lines` given ``lines=`` must use the same):
      "gram" — line STRINGS as keys (the oracle form; output column
        ``line_key`` carries the line itself).
      "hash" — xxhash64 keys: the corpus-scale path, the document-
        frequency exchange carries 8-byte rows.

    Plan shape (the 100-TB question): per-document ``array_distinct``
    runs map-side, so the ONE exchange is the partial-aggregated
    groupBy of per-partition-unique line keys — document frequency is
    exact-distinct-by-construction with no (doc, line) distinct
    shuffle, and the text itself never rides any exchange.
    """
    if min_docs < 2:
        raise ValueError("boilerplate_lines needs min_docs >= 2")
    _check_sep(sep)
    eligible = F.filter(
        _trimmed_lines(text_col, sep), lambda x: F.length(x) >= min_chars
    )
    occ = docs.select(F.explode(F.array_distinct(eligible)).alias("_line"))
    key_col = F.xxhash64("_line") if key == "hash" else F.col("_line")
    return (
        occ.select(key_col.alias("line_key"))
        .groupBy("line_key")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
    min_chars: int = 10,
    key: str = "hash",
    lines: DataFrame | None = None,
    sep: str = "\n",
) -> DataFrame:
    """(doc_id, clean_text, n_lines, n_removed): documents with every
    corpus-boilerplate line (see :func:`boilerplate_lines`) dropped and
    the surviving raw lines re-joined with '\\n'.  Removal cuts EVERY
    in-document copy of a boilerplate line; lines shorter than
    ``min_chars`` after trim are never candidates, so blank separators
    survive.

    Join shape mirrors :func:`remove_duplicate_spans`: hit positions
    collapse to one array row per AFFECTED document (most documents
    have none, and the hit groupBy shuffles (id, pos) rows only),
    left-joined back to the corpus; the line cut is a codegen
    higher-order filter — no Python, and unaffected documents shuffle
    only in the join exchange (gone entirely when AQE broadcasts the
    affected-doc side).
    """
    _check_sep(sep)
    dup = (
        lines
        if lines is not None
        else boilerplate_lines(docs, text_col, id_col, min_docs, min_chars, key, sep)
    )
    raw = F.split(F.col(text_col), sep)
    occ = (
        docs.select(id_col, F.posexplode(raw).alias("_p", "_raw"))
        .select(id_col, "_p", F.trim("_raw").alias("_t"))
        .filter(F.length("_t") >= min_chars)
    )
    key_col = F.xxhash64("_t") if key == "hash" else F.col("_t")
    hits = occ.select(id_col, "_p", key_col.alias("line_key")).join(
        dup.select("line_key"), "line_key", "left_semi"
    )
    cuts = hits.groupBy(id_col).agg(F.collect_list("_p").alias("_cut"))
    joined = (
        docs.select(id_col, text_col)
        .join(cuts, id_col, "left")
        .select(
            id_col,
            raw.alias("_l"),
            F.coalesce("_cut", F.array().cast("array<int>")).alias("_cut"),
        )
    )
    kept = F.filter("_l", lambda x, i: ~F.exists("_cut", lambda z: z == i))
    return joined.select(
        id_col,
        F.array_join(kept, sep).alias("clean_text"),
        F.size("_l").cast("long").alias("n_lines"),
        F.size("_cut").cast("long").alias("n_removed"),
    )


def _check_sep(sep: str) -> None:
    """Literal separators only — the Spark side splits by REGEX while the
    DuckDB oracle's string_split is literal, so a metacharacter would
    silently diverge the two engines."""
    if not sep or any(c in ".^$*+?()[]{}|\\'" for c in sep):
        raise ValueError(f"sep must be a non-empty regex-free literal: {sep!r}")


def _sep_sql(sep: str) -> str:
    """The separator as a DuckDB expression (newlines via chr)."""
    return " || ".join(
        f"chr({ord(c)})" if c in "\n\r\t" else f"'{c}'" for c in sep
    )


def _line_cte(
    table_expr: str, text_col: str, id_col: str, min_docs: int, min_chars: int,
    sep: str = "\n",
) -> str:
    """Shared DuckDB CTE chain: per-doc lines, distinct eligible keys,
    and the boilerplate (df >= min_docs) line set."""
    _check_sep(sep)
    return f"""
        WITH ln AS (
          SELECT {id_col}, string_split({text_col}, {_sep_sql(sep)}) AS ls
          FROM {table_expr}
        ), keys AS (
          SELECT {id_col},
                 list_distinct(list_filter([trim(x) FOR x IN ls],
                                           x -> len(x) >= {min_chars})) AS ks
          FROM ln
        ), occ AS (
          SELECT {id_col}, unnest(ks) AS line FROM keys
        ), dup AS (
          SELECT line, CAST(count(*) AS BIGINT) AS n_docs
          FROM occ GROUP BY line HAVING count(*) >= {min_docs}
        )
    """


def boilerplate_lines_sql(
    table_expr: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
    min_chars: int = 10,
    sep: str = "\n",
) -> str:
    """DuckDB oracle for ``boilerplate_lines`` (line-string keyed — the
    hash-keyed Spark path matches it up to xxhash64 collisions)."""
    return (
        _line_cte(table_expr, text_col, id_col, min_docs, min_chars, sep)
        + "SELECT line AS line_key, n_docs FROM dup"
    )


def remove_boilerplate_lines_sql(
    table_expr: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
    min_chars: int = 10,
    sep: str = "\n",
) -> str:
    """DuckDB oracle for ``remove_boilerplate_lines``: rebuild each
    document from its non-boilerplate raw lines in position order."""
    return (
        _line_cte(table_expr, text_col, id_col, min_docs, min_chars, sep)
        + f"""
        , pos AS (
          SELECT {id_col}, unnest(ls) AS raw,
                 generate_subscripts(ls, 1) - 1 AS p
          FROM ln
        ), hits AS (
          SELECT pos.{id_col}, pos.p
          FROM pos JOIN dup
            ON len(trim(pos.raw)) >= {min_chars} AND trim(pos.raw) = dup.line
        ), joined AS (
          SELECT pos.{id_col} AS _id, pos.raw, pos.p, hits.p AS hp
          FROM pos LEFT JOIN hits
            ON pos.{id_col} = hits.{id_col} AND pos.p = hits.p
        ), agg AS (
          SELECT _id,
                 coalesce(string_agg(raw, {_sep_sql(sep)} ORDER BY p)
                            FILTER (WHERE hp IS NULL), '') AS ct,
                 count(*) AS nl, count(hp) AS nr
          FROM joined GROUP BY _id
        )
        -- emit from the corpus so NULL-text docs keep their row (the
        -- Spark operator left-joins cuts onto docs): clean_text/n_lines
        -- NULL, n_removed 0 — string_split(NULL) has no pos rows
        -- a NULL-{id_col} doc mirrors Spark's null-unsafe cut join:
        -- it never receives cuts, so its original text survives whole
        -- (rebuilt per doc from its own ls — the shared agg NULL group
        -- would interleave multiple NULL-id docs)
        SELECT ln.{id_col},
               CASE WHEN ln.ls IS NULL THEN NULL
                    WHEN ln.{id_col} IS NULL
                      THEN array_to_string(ln.ls, {_sep_sql(sep)})
                    ELSE agg.ct END AS clean_text,
               CAST(CASE WHEN ln.ls IS NULL THEN NULL
                         WHEN ln.{id_col} IS NULL THEN len(ln.ls)
                         ELSE agg.nl END AS BIGINT) AS n_lines,
               CAST(coalesce(agg.nr, 0) AS BIGINT) AS n_removed
        FROM ln LEFT JOIN agg ON ln.{id_col} = agg._id
    """
    )
