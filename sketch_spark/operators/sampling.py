"""Deterministic sampling & dataset splits — training-pipeline staples.

Everything here is PURE Catalyst over an md5-derived uniform rank, so
results are (a) reproducible bit-for-bit across runs, Spark versions,
and partitionings, (b) oracle-checkable in any engine with md5 (the
driver's DuckDB gate), and (c) shuffle-minimal: a split is a map-only
projection; a per-group sample is one window over the group key.

Why md5 rather than Spark's ``rand``/``sample``: seeded ``rand`` is
partitioning-dependent (values are drawn per-partition), so a
repartition silently reshuffles which rows land in train vs test —
exactly the nondeterminism a 10^12-row training pipeline cannot have.
A content-derived hash rank makes the assignment a pure function of
(seed, id), stable under any execution plan — the same argument as the
deterministic salts in operators/aggregate.py (SPARK-23207-style
re-execution safety).

Reference analog: the reference has no sampling surface; this is part
of the training-data battery the task mandates alongside dedup/ANN.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

__all__ = [
    "uniform_hash_col",
    "deterministic_split",
    "leakage_safe_split",
    "sample_per_group",
    "bottomk_sample",
    "kmv_distinct",
    "kmv_set_similarity",
    "mixture_weights",
    "temperature_sample",
    "rank_buckets",
]

_HEX_DIGITS = 8  # 32 bits of rank: plenty for split fractions; exact in double


def uniform_hash_col(id_col: str | Column, seed: int = 1) -> Column:
    """U[0,1) as a pure function of (seed, id): the first 8 md5 hex
    digits of ``seed:id`` scaled by 16^-8.  32 bits of resolution —
    split-fraction granularity of ~2.3e-10 — and exactly representable
    in a double, so engine comparisons are bit-stable."""
    cid = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), cid.cast("string"))), 1, _HEX_DIGITS),
        16,
        10,
    ).cast("long")
    return h / F.lit(float(16 ** _HEX_DIGITS))


def deterministic_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 1,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split with the given fractions —
    train/val/test as a map-only projection (NO shuffle, NO sampling
    pass): split = the weight interval containing u(seed, id).

    Fractions need not sum to 1; they are normalized.  Assignment is
    stable under repartition/re-execution and independent of row order.
    """
    return df.withColumn(
        split_col, _interval_expr(uniform_hash_col(id_col, seed), weights)
    )


def _interval_expr(u: Column, weights: dict[str, float]) -> Column:
    """CASE expression mapping a U[0,1) rank to the named weight
    interval containing it (weights normalized)."""
    total = float(sum(weights.values()))
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += float(w) / total
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    return F.lit(last) if expr is None else expr.otherwise(F.lit(last))


def leakage_safe_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 1,
    split_col: str = "split",
    pairs: DataFrame | None = None,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int | str = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Dedup-AWARE train/val/test split: every near-duplicate cluster
    lands wholly in one split, so eval can never contain a near-copy
    of a training document — the leakage guard a C4/Dolma-style
    pipeline applies between dedup and packing.  Output adds
    ``cluster`` (the min-id component label; own id for singletons)
    and ``split_col``.

    Composition: MinHash near-dup pairs (or a precomputed ``pairs``
    edge set) -> min-label components (candidate-scale label
    propagation, same machinery as ``dedup_corpus``) -> one left join
    back to the corpus -> split = the weight interval containing
    u(seed, cluster).  The split decision is a pure md5 function of
    (seed, cluster), so it inherits ``deterministic_split``'s
    replay/repartition stability, and documents in no pair never
    shuffle — their label join is a candidate-scale broadcast at real
    scale.
    """
    from .dedup import minhash_near_duplicates, propagate_min_labels

    if pairs is None:
        pairs = minhash_near_duplicates(
            df, id_col, text_col, num_perm, bands, shingle_k, threshold, seed
        )
    labels = propagate_min_labels(pairs.select("id_a", "id_b")).withColumnRenamed(
        "id", id_col
    )
    out = df.join(labels, id_col, "left")
    cluster = F.coalesce(F.col("label"), F.col(id_col)).cast("long")
    out = out.withColumn("cluster", cluster).drop("label")
    return out.withColumn(
        split_col, _interval_expr(uniform_hash_col(F.col("cluster"), seed), weights)
    )


def sample_per_group(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    id_col: str = "doc_id",
    seed: int = 1,
) -> DataFrame:
    """Deterministic k-row sample per group: rank rows inside each group
    by (u(seed, id), id) and keep rank <= k.  One shuffle on the group
    key; with AQE this is a WindowGroupLimit (per-partition top-k fold
    before the exchange), so the shuffle carries at most k rows per
    group per input partition — not the group's full contents."""
    w = W.partitionBy(*group_cols).orderBy(
        uniform_hash_col(id_col, seed).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def bottomk_sample(
    df: DataFrame, k: int, id_col: str = "doc_id", seed: int = 1
) -> DataFrame:
    """Deterministic global k-row uniform sample: the k rows with the
    smallest md5 rank.  Plans as TakeOrderedAndProject — each partition
    folds its local k, the driver merges P·k candidates — so no full
    sort and no data-scale shuffle at any corpus size."""
    u = uniform_hash_col(id_col, seed)
    return df.orderBy(u.asc(), F.col(id_col).asc()).limit(k)


def kmv_distinct(
    df: DataFrame,
    value_col: str | Column,
    group_cols: list[str],
    k: int = 256,
    seed: int = 1,
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count estimate per
    group: keep the k smallest distinct hash ranks of ``value_col``;
    if the k-th is u_k, estimate n_distinct ~= (k-1)/u_k (Bar-Yossef
    et al. 2002), RSE ~ 1/sqrt(k-2).  Groups with fewer than k distinct
    values are EXACT (the sketch saw everything).

    Unlike HLL/CMCU, every number here is a pure function of md5, so
    the estimate itself is hash-oracle-checkable in DuckDB — the one
    estimator in the library with a full value-match driver gate.

    Plan at scale: map-side partial HashAggregate dedupes (group, rank)
    pairs before the exchange, so the shuffle is vocabulary-scale, not
    token-stream-scale; the window's WindowGroupLimit (AQE) folds
    per-partition bottom-k before ranking.  At 10^12 docs you'd insert
    a coarse rank prefilter (u < c·k/n_hat) ahead of the distinct to
    keep even the vocabulary exchange bounded; semantics unchanged.
    """
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    pairs = df.select(
        *group_cols, uniform_hash_col(vc, seed).alias("_u")
    ).distinct()
    w = W.partitionBy(*group_cols).orderBy(F.col("_u").asc())
    bottom = pairs.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") <= k)
    return bottom.groupBy(*group_cols).agg(
        F.round(
            F.when(F.count("*") < k, F.count("*").cast("double")).otherwise(
                F.lit(float(k - 1)) / F.max("_u")
            ),
            4,
        ).alias("est_distinct"),
        F.count("*").cast("long").alias("n_minima"),
    )


def kmv_set_similarity(
    df: DataFrame,
    value_col: str | Column,
    group_col: str,
    k: int = 256,
    seed: int = 1,
) -> DataFrame:
    """Pairwise KMV set similarity between groups: for every group pair
    (a < b), merge the two bottom-k signatures, keep the k smallest
    distinct ranks of the union, and estimate
      jaccard  ~= |{kept ranks present in BOTH}| / k      (Beyer et al. 2007)
      union    ~= (k-1) / u_k
    Pairs whose merged signature has fewer than k distinct ranks are
    EXACT (the union was seen in full).

    Like ``kmv_distinct``, every number is a pure function of md5 — the
    set-ALGEBRA estimator with a full value-hash driver gate, next to
    the rows-only HLL inclusion-exclusion path (hll_lang_overlap).

    Plan shape: the per-group bottom-k is the kmv_distinct plan
    (vocabulary-scale distinct + WindowGroupLimit); everything after
    operates on <= k rows per group — G^2/2 x k rows total — so the
    pairwise stage costs nothing at any corpus size.
    """
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    ranks = df.select(
        F.col(group_col).alias("g"), uniform_hash_col(vc, seed).alias("u")
    ).distinct()
    w = W.partitionBy("g").orderBy(F.col("u").asc())
    bottom = ranks.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") <= k)
    groups = bottom.select("g").distinct()
    pairs = (
        groups.select(F.col("g").alias("ga"))
        .join(groups.select(F.col("g").alias("gb")), F.col("ga") < F.col("gb"))
    )
    side_a = (
        pairs.join(bottom.select(F.col("g").alias("ga"), "u"), "ga")
        .select("ga", "gb", "u", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    )
    side_b = (
        pairs.join(bottom.select(F.col("g").alias("gb"), "u"), "gb")
        .select("ga", "gb", "u", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    )
    merged = (
        side_a.unionByName(side_b)
        .groupBy("ga", "gb", "u")
        .agg(F.max("in_a").alias("a"), F.max("in_b").alias("b"))
    )
    w2 = W.partitionBy("ga", "gb").orderBy(F.col("u").asc())
    kept = merged.withColumn("_r", F.row_number().over(w2)).filter(F.col("_r") <= k)
    n = F.count("*")
    n_both = F.sum(F.col("a") * F.col("b"))
    u_k = F.max("u")
    return kept.groupBy("ga", "gb").agg(
        F.round(
            F.when(n < k, n_both / n).otherwise(n_both / F.lit(float(k))), 4
        ).alias("est_jaccard"),
        F.round(
            F.when(n < k, n.cast("double")).otherwise(F.lit(float(k - 1)) / u_k), 4
        ).alias("est_union"),
        n_both.cast("long").alias("n_both"),
    )


def mixture_weights(
    df: DataFrame,
    group_col: str = "source",
    alpha: float = 0.5,
    budget: int | None = None,
) -> DataFrame:
    """(group, n_docs, weight, sample_rate): temperature-based mixture
    weights for source/language rebalancing — weight ∝ n^alpha
    normalized over groups (alpha=1 keeps natural proportions, alpha=0
    is uniform over groups; 0<alpha<1 up-weights small sources the way
    multilingual LM training mixes do).  With ``budget`` (target
    sampled rows), sample_rate = min(1, budget * weight / n).

    Weights are rounded to 6 decimals BEFORE rates are derived, so the
    numbers (and any downstream deterministic sample) are bit-stable
    across engines.  The group table is category-scale (sources,
    languages), so the normalization is a 1-row aggregate broadcast —
    the only corpus-scale work is the groupBy count.
    """
    counts = df.groupBy(group_col).agg(F.count("*").alias("n_docs"))
    wraw = counts.withColumn("_wraw", F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha))))
    tot = wraw.agg(F.sum("_wraw").alias("_tot"))
    out = (
        wraw.crossJoin(F.broadcast(tot))
        .withColumn("weight", F.round(F.col("_wraw") / F.col("_tot"), 6))
        .drop("_wraw", "_tot")
    )
    if budget is not None:
        out = out.withColumn(
            "sample_rate",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(float(budget)) * F.col("weight") / F.col("n_docs"),
                ),
                6,
            ),
        )
    return out


def temperature_sample(
    df: DataFrame,
    group_col: str = "source",
    alpha: float = 0.5,
    budget: int = 1000,
    id_col: str = "doc_id",
    seed: int = 1,
) -> DataFrame:
    """Deterministic temperature-mixture sample: ~``budget`` rows drawn
    with per-group rates from ``mixture_weights`` (small groups
    up-weighted at alpha<1), keeping a row iff its md5 rank u(seed, id)
    < its group's rate.  Rate table is category-scale and broadcast;
    the pass is map-only per row (no shuffle of the corpus, stable
    under repartition/re-execution like every sampler in this module).
    """
    rates = mixture_weights(df, group_col, alpha, budget).select(
        group_col, "sample_rate"
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(uniform_hash_col(id_col, seed) < F.col("sample_rate"))
        .drop("sample_rate")
    )


def rank_buckets(
    df: DataFrame,
    score_col: str,
    n_buckets: int = 10,
    id_col: str = "doc_id",
    bucket_col: str = "bucket",
    partitions: int | None = None,
) -> DataFrame:
    """Adds ``bucket_col`` in 1..n_buckets: the row's quantile bucket
    under the total order (score, id) — quality deciles for curriculum
    schedules and threshold ablations.  bucket = (rank-1)*n // N + 1,
    a pure integer function of the global rank, so results are exact
    and engine-independent (no ntile remainder-rule ambiguity).

    Scale shape — NO global-order window (which Spark executes as ONE
    task): repartitionByRange on (score, id), then global rank = local
    row_number within each range partition + the partition's offset
    from a P-row count table (broadcast).  Range boundaries come from
    sampling and vary run to run, but rank — and therefore bucket — is
    invariant to where the boundaries fall, so the output is still
    deterministic.  The input is localCheckpoint'd because two branches
    (counts, rank join) read the ranged table.
    """
    spark = df.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    d = (
        df.repartitionByRange(p, F.col(score_col).asc(), F.col(id_col).asc())
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = d.groupBy("_pid").agg(F.count("*").alias("_n"))
    # P-row offset table: bounded_prefix_sum, not a cumulative global
    # Window — same exclusive sum, no unpartitioned-window WARN
    from .aggregate import bounded_prefix_sum

    offs = bounded_prefix_sum(counts, "_pid", "_n", "_off").select("_pid", "_off")
    total = counts.agg(F.sum("_n").alias("_N"))
    lw = W.partitionBy("_pid").orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    return (
        d.join(F.broadcast(offs), "_pid")
        .crossJoin(F.broadcast(total))
        .withColumn("_rank", F.row_number().over(lw) + F.col("_off"))
        .withColumn(
            bucket_col,
            (F.expr(f"((_rank - 1) * {int(n_buckets)}) div _N") + 1).cast("int"),
        )
        .drop("_pid", "_off", "_N", "_rank")
    )
