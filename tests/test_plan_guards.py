"""Plan-regression guards: the scale-critical plan properties PLANS.md
documents, pinned as tests so they can't silently regress."""

import os

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


PY_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInArrow", "FlatMapGroupsInPandas")


def test_html_roundtrip_plan_pure_codegen(spark, sf001):
    import __spark_entry__ as em

    plan = _plan(em.q_html_roundtrip(spark, sf001))
    for marker in PY_NODES:
        assert marker not in plan, marker


def test_binary_metadata_plan_pure_codegen(spark, sf001):
    import __spark_entry__ as em

    plan = _plan(em.q_multimodal_meta(spark, sf001))
    for marker in PY_NODES:
        assert marker not in plan, marker


def test_decode_plan_single_python_stage(spark, sf001):
    """The real decode operators must stay map-only: exactly ONE python
    stage (mapInPandas), no aggregation/join exchanges — the only
    allowed Exchange is the ensure_min_partitions spread of an
    underpartitioned input.  At 100 TB the decode cost is the scan plus
    the python stage, nothing else."""
    import __spark_entry__ as em

    for q in (em.q_image_decode, em.q_image_stats, em.q_wav_features):
        plan = _plan(q(spark, sf001))
        assert plan.count("MapInPandas") <= 2, plan  # synth + decode stages
        assert "SortMergeJoin" not in plan and "HashAggregate" not in plan, plan
        # every Exchange must be a plain round-robin spread, never a key shuffle
        for line in plan.splitlines():
            if "Exchange" in line and "REPARTITION" not in line:
                raise AssertionError(f"unexpected keyed exchange in decode plan: {line}")


def test_lsh_pairs_no_pandas_groups(spark, sf001):
    from sketch_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = spark.read.parquet(os.path.join(sf001, "documents.parquet"))
    sigs = minhash_signatures(docs, "doc_id", "text", 64, 3, 1)
    plan = _plan(lsh_candidate_pairs(sigs, "doc_id", 16))
    # signature build is the ONLY python stage; pair join stays codegen
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInArrow" in plan


def test_span_pass2_one_map_in_arrow_no_occurrence_shuffle(spark, sf001):
    """At the default broadcast cap, span pass 2 is ONE MapInArrow that
    probes the broadcast dup set: the only exchange below it is the
    round-robin spread of the scan, and the only one above it is the
    hit stream's hash exchange on the doc id (window + span groupBy).
    No join, so the occurrence stream never shuffles."""
    from sketch_spark.operators.dedup import duplicate_ngram_spans

    docs = spark.read.parquet(os.path.join(sf001, "documents.parquet"))
    lines = _plan(duplicate_ngram_spans(docs, n=3, min_count=2)).splitlines()
    arrow = [i for i, line in enumerate(lines) if "MapInArrow" in line]
    assert len(arrow) == 1, "\n".join(lines)
    assert not any("Join" in line for line in lines), "\n".join(lines)
    for i, line in enumerate(lines):
        if "Exchange" not in line:
            continue
        if i > arrow[0]:
            assert "RoundRobinPartitioning" in line, line
        else:
            assert "hashpartitioning(doc_id" in line, line


def test_bloom_prefilter_below_join(spark, sf001):
    import __spark_entry__ as em

    plan = _plan(em.q_bloom_semi_join(spark, sf001))
    join_pos = plan.find("Join")
    eval_pos = plan.find("ArrowEvalPython")
    assert -1 < join_pos < eval_pos, "Bloom filter must sit below (after in tree text) the join"


def test_sketch_scan_prunes_to_text(spark, sf001):
    from sketch_spark.operators.aggregate import SketchSpec, build_partials

    docs = spark.read.parquet(os.path.join(sf001, "documents.parquet"))
    spec = SketchSpec("cm", "cm", "text", params={"depth": 4, "log2_width": 12, "seed": 1})
    plan = _plan(build_partials(docs, [spec]))
    assert "ReadSchema: struct<text:string>" in plan


def _python_stages(plan: str) -> int:
    """Plan pieces between Exchanges that hold a python node: the
    python stages of a linear plan."""
    stages = [[]]
    for line in plan.splitlines():
        if "Exchange" in line:
            stages.append([])
        else:
            stages[-1].append(line)
    return sum(any(m in line for line in s for m in PY_NODES) for s in stages)


def test_sketch_fold_is_one_task_at_few_partials(spark, sf001):
    """At no more than ``_FOLD_FANIN`` partials the merge is one fold
    task and no level-1 fold: the partial pass and the fold are the
    plan's only python nodes, and the contract KLL quantiles run two
    python stages (partials; fold + quantile UDF)."""
    import __spark_entry__ as em
    from sketch_spark.operators.aggregate import (
        _FOLD_FANIN,
        SketchSpec,
        build_partials,
        merge_partials,
    )

    docs = spark.read.parquet(os.path.join(sf001, "documents.parquet"))
    specs = [
        SketchSpec("cmcu", "cmcu", "text", params={"depth": 4, "log2_width": 14, "seed": 1}),
        SketchSpec("hll", "hll", "text", params={"p": 14, "seed": 1}),
    ]
    partials = build_partials(docs, specs)
    assert partials.rdd.getNumPartitions() <= _FOLD_FANIN
    plan = _plan(merge_partials(partials))
    assert plan.count("MapInArrow") == 2, plan
    assert sum(plan.count(m) for m in PY_NODES) == 2, plan
    assert _python_stages(_plan(em.q_kll_price_quantiles(spark, sf001))) == 2


def test_tpch_filter_pushdown(spark, sf001):
    li = spark.read.parquet(os.path.join(sf001, "lineitem.parquet"))
    plan = _plan(li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_quantity"))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_revenue_joins_broadcast(spark, sf001):
    import __spark_entry__ as em

    plan = _plan(em.q_revenue_by_region(spark, sf001))
    assert plan.count("BroadcastHashJoin") >= 4  # all four dims broadcast


def test_keyed_distinct_estimates_accuracy(spark, sf001):
    """Executor-side estimate extraction: per-source HLL distincts land
    within 3x RSE of exact, with exact row/value accounting."""
    from sketch_spark.operators.aggregate import keyed_distinct_estimates

    docs = spark.read.parquet(os.path.join(sf001, "documents.parquet"))
    got = keyed_distinct_estimates(docs, ["source"], "text", p=12).toPandas()
    plan_df = keyed_distinct_estimates(docs, ["source"], "text", p=12)
    assert "CollectLimit" not in _plan(plan_df)  # stays a distributed plan
    exact = {
        r["source"]: r["n"]
        for r in docs.select(
            "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("source")
        .agg(F.countDistinct("tok").alias("n"))
        .collect()
    }
    rse = 3 * 1.04 / (2 ** (12 / 2))
    for _, row in got.iterrows():
        rel = abs(row.est_distinct - exact[row.source]) / exact[row.source]
        assert rel <= 3 * rse, (row.source, rel)


def test_keyed_aggregate_no_pandas_groups(spark, sf001):
    """Keyed skew path: one repartition + vectorized MapInArrow pass —
    no per-(key, salt) pandas stage."""
    from sketch_spark.operators.aggregate import SketchSpec, keyed_sketch_aggregate

    docs = spark.read.parquet(os.path.join(sf001, "documents.parquet"))
    spec = SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 12, "seed": 1})
    plan = _plan(keyed_sketch_aggregate(docs, ["source"], [spec], salt=8))
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInArrow" in plan


def test_ann_index_probe_partition_pruned(spark, sf001, tmp_path_factory):
    """VERDICT r2 #5: a probe over a stored ANN index must prune to the
    probed cells AT THE SCAN (PartitionFilters on `cell`), not read the
    whole index and filter after — this is what makes nprobe<<n_cells a
    scan-cost win at 10^12 vectors."""
    from sketch_spark.operators.similarity import build_ann_index, ivf_topk_indexed

    emb = spark.read.parquet(os.path.join(sf001, "embeddings.parquet"))
    qrows = emb.filter(F.col("vec_id") < 3).collect()
    queries = {int(r["vec_id"]): r["embedding"] for r in qrows}
    path = str(tmp_path_factory.mktemp("ann") / "ivf_index")
    build_ann_index(emb.filter(F.col("vec_id") >= 10), path, n_cells=8, seed=1)
    plan = _plan(ivf_topk_indexed(spark, path, queries, k=3, nprobe=2))
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, plan
    assert any("cell" in ln and "IN" in ln for ln in pf), pf


def test_clean_corpus_single_exchange_windowgrouplimit(spark, sf001):
    """PLANS.md §13 pinned: gates fuse into the scan (no Python), the
    dedup is ONE md5-hash exchange, and a map-side WindowGroupLimit
    folds each (hash, partition) to one candidate before it."""
    import re

    from sketch_spark.operators.filtering import clean_corpus

    docs = spark.read.parquet(os.path.join(sf001, "documents.parquet"))
    plan = _plan(clean_corpus(docs).select("doc_id", "lang", "source"))
    for marker in PY_NODES:
        assert marker not in plan, marker
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1
    assert "WindowGroupLimit" in plan


def test_bottomk_and_bm25_take_ordered(spark, sf001):
    """Global top-k paths must plan as TakeOrderedAndProject (local k
    per partition), never a global Sort."""
    import __spark_entry__ as em

    for q in (em.q_bottomk_sample, em.q_bm25_topk):
        plan = _plan(q(spark, sf001))
        assert "TakeOrderedAndProject" in plan, q.__name__


def test_bucketed_tables_join_without_shuffle(spark, sf001, tmp_path_factory):
    """The co-located-join story at 100 TB: two tables bucketed on the
    join key (the parquet stand-in for Iceberg `bucket(N, key)`
    partitioning) must sort-merge join with ZERO Exchange — neither
    side shuffles, because Spark trusts the bucket layout.  Pinned
    with broadcast and AQE off so the guard tests the bucket path, not
    a planner shortcut."""
    base = tmp_path_factory.mktemp("buckets")
    docs = spark.read.parquet(os.path.join(sf001, "documents.parquet"))
    stats = docs.select("doc_id", F.length("text").alias("n_chars"))
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, df in (("bkt_docs", docs), ("bkt_stats", stats)):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.bucketBy(8, "doc_id")
                .sortBy("doc_id")
                .option("path", str(base / name))
                .saveAsTable(name)
            )
        joined = spark.table("bkt_docs").join(spark.table("bkt_stats"), "doc_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert "SelectedBucketsCount" in plan  # both scans bucket-aware
        assert joined.count() == docs.count()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        for name in ("bkt_docs", "bkt_stats"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_streaming_dedup_index_scan_partition_pruned(spark, tmp_path):
    """The streaming near-dedup fold reads the band-key index with
    `epoch < current`: that predicate must reach the scan as a
    PartitionFilter (replay correctness AND an O(committed-prefix)
    scan instead of O(all-epochs) at real scale)."""
    from sketch_spark.streaming.dedup_stream import init_near_dedup_index

    root = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3}") for i in range(20)],
        "doc_id long, text string",
    )
    init_near_dedup_index(docs, root)
    keys = spark.read.parquet(os.path.join(root, "keys")).filter(F.col("epoch") < 1)
    plan = _plan(keys)
    assert "PartitionFilters" in plan and "epoch" in plan.split("PartitionFilters")[1][:80]


def test_emerging_one_candidate_stage(spark, sf001):
    """Emerging heavy hitters counts both windows in ONE python stage:
    no second candidate job, no join of candidates with control counts,
    and no estimate UDF over the candidate strings — in exact mode (the
    contract query) and in reference mode alike."""
    import __spark_entry__ as em
    from sketch_spark.operators.emerging import emerging_heavy_hitters

    docs = spark.read.parquet(os.path.join(sf001, "documents.parquet"))
    ctrl = F.col("source").isin(["src15", "src16", "src17", "src18", "src19"])
    reference = emerging_heavy_hitters(
        docs.filter(~ctrl), docs.filter(ctrl), "text", threshold=100, growth=2.0,
        mode="reference", depth=4, log2_width=14, seed=1,
    )
    for df in (em.q_emerging_hh(spark, sf001), reference):
        plan = _plan(df)
        assert plan.count("MapInArrow") == 1, plan
        for marker in ("ArrowEvalPython", "BroadcastHashJoin", "SortMergeJoin"):
            assert marker not in plan, marker
