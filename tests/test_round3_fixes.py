"""Regression tests for round-3 VERDICT/ADVICE items.

Each test names the finding it pins (VERDICT.md r2 "Next round" /
ADVICE.md r2) so the traceability is greppable.
"""

import numpy as np
import pandas as pd
import pytest


# ---------------------------------------------------------------------------
# ADVICE r2 — deterministic salt in keyed_sketch_aggregate
# ---------------------------------------------------------------------------
def test_keyed_salt_is_deterministic_expression(spark):
    """ADVICE r2: the salt must not involve nondeterministic
    expressions (monotonically_increasing_id) — a re-executed map task
    would recompute different salts and rows could be lost/duplicated
    across repartition(key, salt) (SPARK-23207-style)."""
    from sketch_spark.operators.aggregate import SketchSpec, keyed_sketch_aggregate

    rows = pd.DataFrame(
        {"k": ["a"] * 50 + ["b"] * 50, "doc_id": range(100), "text": [f"t{i} x" for i in range(100)]}
    )
    df = spark.createDataFrame(rows)
    spec = SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 12, "seed": 1})
    out = keyed_sketch_aggregate(df, ["k"], [spec], salt=4, row_id_col="doc_id")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "monotonically_increasing_id" not in plan
    got = {r["k"]: r["n_rows"] for r in out.collect()}
    assert got == {"a": 50, "b": 50}


def test_keyed_salt_duplicate_rows_fan_out_with_row_id(spark):
    """With row_id_col, EXACT duplicate (key, value) rows still spread
    across salts — deterministically."""
    from pyspark.sql import functions as F

    from sketch_spark.operators.aggregate import SketchSpec, keyed_sketch_aggregate

    rows = pd.DataFrame({"k": ["hot"] * 400, "doc_id": range(400), "text": ["same text"] * 400})
    df = spark.createDataFrame(rows)
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64("doc_id", "text"), F.lit(8)).cast("int")
    )
    n_salts = salted.select("_salt").distinct().count()
    assert n_salts == 8
    spec = SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 12, "seed": 1})
    out = keyed_sketch_aggregate(df, ["k"], [spec], salt=8, row_id_col="doc_id").collect()
    assert out[0]["n_rows"] == 400


# ---------------------------------------------------------------------------
# ADVICE r2 — cosine_topk boundary cut correctness (ties at k-th place)
# ---------------------------------------------------------------------------
def test_cosine_topk_boundary_ties_deterministic(spark):
    """The O(n) partition cut must keep every row tied at the k-th
    boundary value so the (sim desc, id asc) tie-break stays exact —
    many vectors here are IDENTICAL so rounded sims tie massively."""
    from sketch_spark.operators.similarity import cosine_topk

    rng = np.random.default_rng(3)
    base = rng.normal(size=4)
    rows = [{"vec_id": i, "embedding": base.tolist()} for i in range(40)]  # all tie
    rows += [{"vec_id": 100 + i, "embedding": rng.normal(size=4).tolist()} for i in range(60)]
    df = spark.createDataFrame(pd.DataFrame(rows)).repartition(6)
    got = cosine_topk(df, {0: base}, k=5).toPandas().sort_values("rank")
    # the 40 identical vectors all have sim 1.0; ids 0..4 must win
    assert got.vec_id.tolist() == [0, 1, 2, 3, 4]
    assert (got.sim == 1.0).all()


# ---------------------------------------------------------------------------
# ADVICE r2 — streaming seen-history idempotent under epoch replay
# ---------------------------------------------------------------------------
def test_streaming_seen_history_epoch_overwrite(spark, tmp_path):
    """ADVICE r2: seen-history rows are epoch-named + overwrite, so a
    replayed foreachBatch epoch (crash between state swap and marker
    commit) rewrites the same directory instead of appending duplicate
    rows that would inflate every future exact-count snapshot."""
    import os

    from sketch_spark.streaming.emerging_stream import streaming_emerging_hh

    src = tmp_path / "src"
    pdf = pd.DataFrame({"text": [f"tok{i % 5} filler" for i in range(40)]})
    spark.createDataFrame(pdf).write.parquet(str(src))
    control = spark.createDataFrame(pd.DataFrame({"text": ["filler unrelated"]}))
    stream = spark.readStream.schema("text string").parquet(str(src))
    q = streaming_emerging_hh(
        stream,
        control,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "chk"),
        snapshot_dir=str(tmp_path / "snap"),
        threshold=1,
        growth=1.0,
    )
    q.processAllAvailable()
    q.stop()
    seen_dir = tmp_path / "state" / "seen"
    epochs = [d for d in os.listdir(seen_dir) if d.startswith("epoch=")]
    assert epochs, "seen history must be epoch-partitioned"
    n_before = spark.read.parquet(str(seen_dir)).count()
    assert n_before == 40
    # simulate the replay window: re-run the same epoch's write path
    # (materialize the batch first — a lazy self-overwrite would read
    # the files it is deleting)
    sub = os.path.join(str(seen_dir), sorted(epochs)[0])
    batch_pdf = spark.read.parquet(sub).select("text").toPandas()
    spark.createDataFrame(batch_pdf).write.mode("overwrite").parquet(sub)
    assert spark.read.parquet(str(seen_dir)).count() == 40  # no duplication


# ---------------------------------------------------------------------------
# VERDICT r3 #5 — stored, partition-pruned ANN index
# ---------------------------------------------------------------------------
def test_ann_index_ivf_matches_unindexed(spark, sf001, tmp_path):
    """VERDICT r2 #5: ivf_topk_indexed over a build_ann_index store must
    equal ivf_topk (same centroids) row-for-row — the stored index is a
    layout change, not a semantics change."""
    import os

    from pyspark.sql import functions as F

    from sketch_spark.operators.similarity import (
        build_ann_index,
        ivf_topk,
        ivf_topk_indexed,
        load_ann_centroids,
    )

    emb = spark.read.parquet(os.path.join(sf001, "embeddings.parquet"))
    qrows = emb.filter(F.col("vec_id") < 5).collect()
    queries = {int(r["vec_id"]): r["embedding"] for r in qrows}
    corpus = emb.filter(F.col("vec_id") >= 10)
    path = str(tmp_path / "ivf_index")
    cents = build_ann_index(corpus, path, n_cells=8, seed=1, kind="ivf")
    stored = load_ann_centroids(path)
    assert np.allclose(cents, stored)
    got = sorted(
        tuple(r) for r in ivf_topk_indexed(spark, path, queries, k=5, nprobe=4).collect()
    )
    want = sorted(
        tuple(r)
        for r in ivf_topk(corpus, queries, k=5, n_cells=8, nprobe=4, seed=1).collect()
    )
    assert got == want and len(got) == 25


def test_ann_index_hyperplane_matches_bucket_topk(spark, sf001, tmp_path):
    """Stored hyperplane variant equals the on-the-fly lsh_bucket_topk
    (same seed => same planes => same buckets => same candidates)."""
    import os

    from pyspark.sql import functions as F

    from sketch_spark.operators.similarity import (
        build_ann_index,
        lsh_bucket_topk,
        lsh_topk_indexed,
    )

    emb = spark.read.parquet(os.path.join(sf001, "embeddings.parquet"))
    qrows = emb.filter(F.col("vec_id") < 5).collect()
    queries = {int(r["vec_id"]): r["embedding"] for r in qrows}
    corpus = emb.filter(F.col("vec_id") >= 10)
    path = str(tmp_path / "hp_index")
    assert build_ann_index(corpus, path, kind="hyperplane", bits=6, seed=1) is None
    got = sorted(
        tuple(r)
        for r in lsh_topk_indexed(
            spark, path, queries, k=5, bits=6, seed=1, probe_hamming=1
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in lsh_bucket_topk(
            corpus, queries, k=5, bits=6, seed=1, probe_hamming=1
        ).collect()
    )
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# round-3 additions: sampling determinism + HLL set algebra
# ---------------------------------------------------------------------------
def test_deterministic_split_stable_under_repartition(spark, sf001):
    """The whole point vs seeded rand(): assignment is a pure function
    of (seed, id) — identical for any partitioning — and fractions land
    near the requested weights."""
    import os

    from pyspark.sql import functions as F

    from sketch_spark.operators.sampling import deterministic_split

    docs = spark.read.parquet(os.path.join(sf001, "documents.parquet"))
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    a = {r["doc_id"]: r["split"] for r in deterministic_split(docs, w).select("doc_id", "split").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in deterministic_split(docs.repartition(13), w).select("doc_id", "split").collect()
    }
    assert a == b
    n = len(a)
    frac_train = sum(1 for v in a.values() if v == "train") / n
    assert abs(frac_train - 0.9) < 0.08  # 500 docs: ~4 sigma of binomial noise
    # different seed => different assignment (not degenerate)
    c = {
        r["doc_id"]: r["split"]
        for r in deterministic_split(docs, w, seed=2).select("doc_id", "split").collect()
    }
    assert a != c


def test_sample_per_group_deterministic_and_sized(spark, sf001):
    import os

    from pyspark.sql import functions as F

    from sketch_spark.operators.sampling import sample_per_group

    docs = spark.read.parquet(os.path.join(sf001, "documents.parquet"))
    s1 = sorted(
        tuple(r) for r in sample_per_group(docs, ["source"], 3).select("source", "doc_id").collect()
    )
    s2 = sorted(
        tuple(r)
        for r in sample_per_group(docs.repartition(7), ["source"], 3)
        .select("source", "doc_id")
        .collect()
    )
    assert s1 == s2
    per_group = {}
    for src, _ in s1:
        per_group[src] = per_group.get(src, 0) + 1
    assert all(v == 3 for v in per_group.values())


def test_hll_overlap_estimates_within_bound(spark, sf001):
    """Inclusion-exclusion intersection estimates stay within
    3 x RSE x |A∪B| of exact pairwise overlaps (each HLL term carries
    the RSE of a union-sized set)."""
    import os

    from pyspark.sql import functions as F

    from sketch_spark.operators.aggregate import distinct_overlap_estimates

    docs = spark.read.parquet(os.path.join(sf001, "documents.parquet"))
    got = distinct_overlap_estimates(docs, "lang", "text", p=14).toPandas()
    toks = (
        docs.select("lang", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
        .collect()
    )
    sets: dict[str, set] = {}
    for r in toks:
        sets.setdefault(r["lang"], set()).add(r["tok"])
    rse = 1.04 / (2 ** (14 / 2))
    assert len(got) == len(sets) * (len(sets) - 1) // 2
    for _, row in got.iterrows():
        a, b = sets[row.group_a], sets[row.group_b]
        exact_union = len(a | b)
        exact_inter = len(a & b)
        assert abs(row.est_union - exact_union) <= 3 * rse * exact_union + 1
        assert abs(row.est_intersection - exact_inter) <= 3 * 3 * rse * exact_union + 1


def test_kmv_distinct_error_bound_and_exact_small_groups(spark):
    """KMV estimate within 4x RSE (k=256 -> ~6.5%) of exact distinct
    counts; groups with < k distinct values come back exact."""
    import numpy as np

    from pyspark.sql import functions as F

    from sketch_spark.operators.sampling import kmv_distinct

    rng = np.random.default_rng(7)
    rows = [("big", f"v{rng.integers(0, 20000)}") for _ in range(60000)] + [
        ("small", f"s{i % 40}") for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["grp", "val"])
    exact = {
        r["grp"]: r["n"]
        for r in df.groupBy("grp").agg(F.countDistinct("val").alias("n")).collect()
    }
    got = {r["grp"]: r for r in kmv_distinct(df, "val", ["grp"], k=256).collect()}
    assert got["small"]["est_distinct"] == exact["small"] == 40
    assert got["small"]["n_minima"] == 40
    rse = 1.0 / (256 - 2) ** 0.5
    assert abs(got["big"]["est_distinct"] - exact["big"]) <= 4 * rse * exact["big"]
    # partitioning-invariant (pure function of the value set)
    got2 = {
        r["grp"]: r["est_distinct"]
        for r in kmv_distinct(df.repartition(13), "val", ["grp"], k=256).collect()
    }
    assert got2 == {g: r["est_distinct"] for g, r in got.items()}


def test_bottomk_sample_plans_as_take_ordered(spark):
    """Global bottom-k sample must fold per-partition (TakeOrdered),
    never a full global Sort."""
    from pyspark.sql import functions as F

    from sketch_spark.operators.sampling import bottomk_sample

    df = spark.range(10000).select(F.col("id").alias("doc_id"))
    out = bottomk_sample(df.repartition(8), 25, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    ids = sorted(r["doc_id"] for r in out.collect())
    out2 = sorted(r["doc_id"] for r in bottomk_sample(df.coalesce(1), 25, "doc_id").collect())
    assert ids == out2 and len(ids) == 25


def test_leakage_safe_split_clusters_never_straddle(spark):
    """Every near-dup pair must land in ONE split; singletons must get
    exactly the deterministic_split assignment for their own id."""
    import numpy as np

    from sketch_spark.operators.sampling import (
        deterministic_split,
        leakage_safe_split,
    )

    rng = np.random.default_rng(23)
    vocab = [f"w{i}" for i in range(3000)]
    rows = []
    for i in range(40):
        toks = list(rng.choice(vocab, size=120))
        rows.append((i * 10, " ".join(toks)))
        rows.append((i * 10 + 1, " ".join(toks[:112])))       # twin
        rows.append((i * 10 + 2, " ".join(rng.choice(vocab, size=120))))
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = leakage_safe_split(docs, weights, threshold=0.5).collect()
    by_id = {r.doc_id: (r.cluster, r.split) for r in out}
    assert len(by_id) == len(rows)
    for i in range(40):
        base, twin = by_id[i * 10], by_id[i * 10 + 1]
        assert base == twin  # same cluster AND same split
        assert base[0] == i * 10  # min-id cluster label
    # singletons: cluster = own id, split = plain deterministic_split
    singles = {i * 10 + 2 for i in range(40)}
    plain = {
        r.doc_id: r.split
        for r in deterministic_split(docs, weights).collect()
    }
    for s in singles:
        assert by_id[s][0] == s
        assert by_id[s][1] == plain[s]
    # all three splits materialize at cluster granularity
    assert {s for _, s in by_id.values()} == {"train", "val", "test"}
