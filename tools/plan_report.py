"""Generate PLANS.md: physical-plan evidence for the scale-critical
properties (SURVEY.md §4.2) — filter pushdown, column pruning (html
never scanned), partition pruning on the window layout, broadcast
joins, whole-stage codegen spans.

Usage: python tools/plan_report.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def trim(plan: str, max_lines: int = 40) -> str:
    lines = [l.rstrip() for l in plan.splitlines() if l.strip()]
    return "\n".join(lines[:max_lines])


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from sketch_spark.operators.aggregate import SketchSpec, build_partials
    from sketch_spark.plans import explain_str
    from sketch_spark.session import get_spark
    from sketch_spark.sources.pages import load_pages, write_pages

    spark = get_spark("plan-report", cores=8)
    sf = "/root/testdata/sf0.01"

    pages_dir = "/tmp/plan_report_pages"
    if not os.path.exists(os.path.join(pages_dir, "pages")):
        write_pages(pages_dir, 2000, seed=42)

    sections: list[tuple[str, str, str]] = []

    # 1. sketch path: column pruning + partition pruning
    pages = load_pages(spark, pages_dir)
    partials = build_partials(
        pages.filter(F.col("window") == "test"),
        [SketchSpec("cmcu", "cmcu", "text", params={"depth": 4, "log2_width": 14, "seed": 1})],
    )
    plan = explain_str(partials)
    checks = []
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    checks.append(f"- ReadSchema = `{m.group(1) if m else '??'}` — the scan reads ONLY the text column; `html:binary` stays cold (the dominant 10^12-scale saving).")
    checks.append(f"- PartitionFilters on `window` prune the control files at the scan: `{'window' in plan and 'PartitionFilters' in plan}`.")
    sections.append(("Sketch build (mapInArrow partials over the pages table)", plan, "\n".join(checks)))

    # 2. flagship emerging-HH: both windows in one candidate stage
    df = entrymod.q_emerging_hh(spark, sf)
    plan = explain_str(df)
    n_py = plan.count("MapInArrow (")
    no_join = "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan
    sections.append((
        "Emerging heavy hitters (flagship)",
        plan,
        f"- test and control windows are counted in one candidate stage: {n_py} MapInArrow, "
        f"no join: {no_join}, no estimate UDF: {'ArrowEvalPython' not in plan} "
        "(the shuffle carries candidate-set sized rows, never data-sized).",
    ))

    # 3. relational surface: pushdown + broadcast dims
    df = entrymod.q_revenue_by_region(spark, sf)
    plan = explain_str(df)
    n_broadcast = plan.count("BroadcastHashJoin")
    sections.append((
        "Revenue by region (5-table join)",
        plan,
        f"- {n_broadcast} broadcast hash joins (dimension tables broadcast; only the fact tables shuffle).",
    ))

    # 4. predicate pushdown on a filtered scan
    li = spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
    df = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_quantity")
    plan = explain_str(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    sections.append((
        "Filter pushdown",
        plan,
        f"- PushedFilters = `{m.group(1) if m else '??'}` reaches the parquet reader.",
    ))

    # 5. binary_metadata: pure Catalyst (no Python stage at all)
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet")).withColumn(
        "bin", F.encode("text", "UTF-8")
    )
    from sketch_spark.functions.multimodal import binary_metadata

    df = binary_metadata(docs, "bin", "doc_id", id_type="long")
    plan = explain_str(df)
    no_py = not any(
        m in plan for m in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInArrow")
    )
    sections.append((
        "Binary metadata (multimodal columns)",
        plan,
        f"- n_bytes/content_md5/format are pure Catalyst expressions — zero Python stages in the plan: {no_py} (mapInPandas is reserved for real decoders).",
    ))

    # 5b. real decode: map-only — one spread Exchange at most, one
    # python stage, no keyed shuffle anywhere
    from sketch_spark.functions.multimodal import image_stats_df

    df = image_stats_df(docs, "bin", "doc_id")
    plan = explain_str(df)
    py_stages = sorted(set(re.findall(r"\((\d+)\) MapInPandas", plan)))
    lower = plan.lower()
    keyed = lower.count("hashpartitioning") + lower.count("rangepartitioning")
    spreads = lower.count("roundrobinpartitioning")
    sections.append((
        "Real multimodal decode (image_stats_df; same shape for decode_images/wavs/avi)",
        plan,
        f"- exactly one python stage (MapInPandas nodes: {len(py_stages)}), "
        f"no aggregate/join in the plan: {'HashAggregate' not in plan and 'Join' not in plan}.\n"
        f"- keyed (hash/range) exchanges: {keyed}; round-robin spreads: {spreads} — "
        "the only Exchange is the ensure_min_partitions spread of an "
        "underpartitioned input; a well-split 100 TB scan passes through "
        "with zero shuffle.",
    ))

    # 6. LSH candidate pairs: the only Python stage is the vectorized
    # signature build; pair generation is a capped-bucket JVM self-join
    from sketch_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    sigs = minhash_signatures(docs, "doc_id", "text", 64, 3, 1)
    df = lsh_candidate_pairs(sigs, "doc_id", 16, est_threshold=0.25)
    plan = explain_str(df)
    arrow_nodes = sorted(set(re.findall(r"\((\d+)\) MapInArrow", plan)))
    no_pandas = "FlatMapGroupsInPandas" not in plan
    sections.append((
        "MinHash LSH candidate pairs",
        plan,
        f"- the only Python stages are the MapInArrow signature builds (plan node ids {arrow_nodes}); pair join + zip_with estimate stay in codegen (no FlatMapGroupsInPandas: {no_pandas}).",
    ))

    # 7. blocked exact cosine pairs: no driver collect / corpus broadcast
    from sketch_spark.operators.similarity import exact_cosine_pairs

    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    df = exact_cosine_pairs(emb, 0.35, strategy="blocked", n_blocks=4)
    plan = explain_str(df)
    sections.append((
        "Exact cosine pairs (blocked block-pair self-join)",
        plan,
        "- the corpus never funnels through the driver: rows explode to block-pairs (codegen), shuffle on (_bi,_bj), one gemm per group — the only exchange is the n x B-row hash partition, no broadcast of the corpus matrix.",
    ))

    # 8. bloom semi-join: the Bloom prefilter sits below the join, so
    # non-members die before the shuffle
    from sketch_spark.operators.emerging import bloom_semi_join

    orders = spark.read.parquet(os.path.join(sf, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(sf, "customer.parquet")).filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select(F.col("c_custkey").alias("o_custkey"))
    df = bloom_semi_join(orders, cust, "o_custkey", log2_bits=20, exact=True)
    plan = explain_str(df)
    join_pos = plan.find("Join")
    eval_pos = plan.find("ArrowEvalPython")
    sections.append((
        "Bloom-gated semi-join",
        plan,
        f"- the Bloom membership filter (ArrowEvalPython) appears below the semi-join in the plan tree (prefilter runs at the scan side, before any shuffle): {eval_pos > join_pos > -1}.",
    ))

    # 8b. keyed skew path: repartition + vectorized pass, no pandas groups
    from sketch_spark.operators.aggregate import keyed_sketch_aggregate

    df = keyed_sketch_aggregate(
        docs, ["source"],
        [SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 12, "seed": 1})],
        salt=8,
    )
    plan = explain_str(df)
    no_pandas = "FlatMapGroupsInPandas" not in plan
    sections.append((
        "Keyed sketch aggregation (salted skew path)",
        plan,
        f"- one explicit repartition on (key, salt) then a vectorized MapInArrow pass; no per-(key, salt) pandas stage (FlatMapGroupsInPandas absent: {no_pandas}).",
    ))

    # 9. html extract: byte-identity invariant as pure codegen
    from sketch_spark.sources.pages import extract_text_col

    df = pages.select(F.md5(extract_text_col("html")).alias("m"))
    plan = explain_str(df)
    no_py = not any(
        m in plan for m in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInArrow")
    )
    sections.append((
        "HTML -> text extraction (input_hint invariant)",
        plan,
        f"- extract_text_col is substring_index/replace/encode only — zero Python stages: {no_py}; runs at scan speed on 10^12 rows.",
    ))

    # 10. stored ANN index probe: partition pruning on `cell`
    from sketch_spark.operators.similarity import build_ann_index, ivf_topk_indexed

    ann_path = "/tmp/plan_report_ann_index"
    qrows = emb.filter(F.col("vec_id") < 3).collect()
    build_ann_index(emb.filter(F.col("vec_id") >= 10), ann_path, n_cells=8, seed=1)
    df = ivf_topk_indexed(
        spark, ann_path, {int(r["vec_id"]): r["embedding"] for r in qrows}, k=3, nprobe=2
    )
    plan = explain_str(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    sections.append((
        "Stored ANN index probe (partition-pruned scan)",
        plan,
        f"- PartitionFilters = `{m.group(1) if m else '??'}` — the probe opens ONLY the nprobe probed `cell` partitions of the stored index; at 10^12 vectors the candidate scan costs nprobe/n_cells of one index pass, and the filter never touches row data.",
    ))

    # 11. sequence packing: distributed prefix sum plan shape
    from sketch_spark.operators.packing import token_chunks

    df = token_chunks(docs, "text", "doc_id", chunk_size=512)
    plan = explain_str(df)
    data_window_bucketed = bool(re.search(r"\[_bkt#\d+L?\], \[doc_id#\d+L? ASC", plan))
    sections.append((
        "Sequence packing (two-pass distributed prefix sum)",
        plan,
        "- the doc-scale Window partitions by the explicit contiguous bucket "
        f"(`[_bkt], [doc_id ASC]` present: {data_window_bucketed}); the only "
        "SinglePartition exchange carries P bucket-total rows, and offsets come "
        "back via BroadcastHashJoin — no global sort of the corpus, ever.",
    ))

    # 12. repetition/PII/URL text ops: pure whole-stage codegen
    from sketch_spark.functions.pii import pii_columns, redact_pii_col
    from sketch_spark.functions.text import repetition_columns
    from sketch_spark.functions.urls import normalize_url_col

    df = docs.select(
        *[c.alias(k) for k, c in repetition_columns("text").items()],
        *[c.alias(k) for k, c in pii_columns("text").items()],
        F.md5(redact_pii_col("text")).alias("red"),
        normalize_url_col(F.concat(F.lit("https://h.example.com/p?id="), "doc_id")).alias("u"),
    )
    plan = explain_str(df)
    no_py = not any(
        m in plan for m in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInArrow")
    )
    sections.append((
        "Pipeline text ops (repetition / PII / URL normalization)",
        plan,
        f"- Gopher repetition metrics, PII scan+redact, and URL canonicalization are all Catalyst array/regex expressions — zero Python stages: {no_py}; they ride the scan like any projection.",
    ))

    # 13. clean_corpus: gates fused into the scan, ONE exchange (md5 window)
    from sketch_spark.operators.filtering import clean_corpus

    docs_tbl = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    df = clean_corpus(docs_tbl).select("doc_id", "lang", "source")
    plan = explain_str(df)
    n_exchanges = len(re.findall(r"\bExchange \(\d+\)", plan))
    has_wgl = "WindowGroupLimit" in plan
    no_py = not any(
        m in plan for m in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInArrow")
    )
    sections.append((
        "clean_corpus (quality gates then exact dedup)",
        plan,
        f"- the quality gates run as a codegen Filter fused into the scan (no "
        f"Python stages: {no_py}); the ONLY data exchange is the md5-window "
        f"hashpartitioning for the dedup (exchange count: {n_exchanges}), it "
        f"carries surviving rows only (rejects never shuffle), and a map-side "
        f"WindowGroupLimit ({has_wgl}) folds each (hash, partition) to one "
        "candidate row before the exchange.",
    ))

    # 14. BM25: 1-row stats broadcast + TakeOrderedAndProject, no data shuffle
    from sketch_spark.operators.retrieval import bm25_topk

    df = bm25_topk(docs_tbl, ["spark", "join", "dup"], k=20)
    plan = explain_str(df)
    has_tok = "TakeOrderedAndProject" in plan
    no_smj = "SortMergeJoin" not in plan
    sections.append((
        "BM25 top-k (lexical retrieval)",
        plan,
        f"- term frequencies are array expressions on the scan; the corpus "
        f"stats aggregate returns ONE row that joins back via broadcast "
        f"(no SortMergeJoin: {no_smj}); the ranking is TakeOrderedAndProject "
        f"({has_tok}) — per-partition local k, no global sort, no data-scale "
        "shuffle anywhere.",
    ))

    # 15. distributed k-means: the per-iteration exchange carries
    # P x k x (d+1) partial rows, never vectors
    from sketch_spark.operators.clustering import kmeans_init_min_ids

    emb_tbl = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    cents0 = kmeans_init_min_ids(emb_tbl, 8)
    bc = spark.sparkContext.broadcast(cents0)

    # reproduce one iteration's aggregate plan (kmeans_fit collect()s it)
    import numpy as np
    import pyarrow as pa
    from sketch_spark.operators import clustering as _cl

    def partials(batches):
        c = bc.value
        acc = np.zeros((len(c), c.shape[1] + 1))
        for batch in batches:
            mat = _cl._as_matrix(batch.column(0))
            if mat.size == 0:
                continue
            assign = np.argmin(_cl._sq_dists(mat, c), axis=1)
            np.add.at(acc[:, :-1], assign, mat)
            acc[:, -1] += np.bincount(assign, minlength=len(c))
        hit = np.nonzero(acc[:, -1])[0]
        if len(hit):
            yield pa.RecordBatch.from_pydict(
                {"cell": pa.array(hit.astype(np.int64)),
                 "s": pa.array([r.tolist() for r in acc[hit]], type=pa.list_(pa.float64()))}
            )

    df = (
        emb_tbl.select("embedding")
        .mapInArrow(partials, "cell long, s array<double>")
        .select("cell", F.posexplode("s").alias("pos", "v"))
        .groupBy("cell", "pos")
        .agg(F.sum("v").alias("v"))
    )
    plan = explain_str(df)
    partial_before_exchange = plan.index("HashAggregate") < plan.index("Exchange")
    sections.append((
        "Distributed k-means iteration (partial-sum aggregate)",
        plan,
        f"- each task folds its batches into <= k partial rows inside the "
        f"Arrow stage; the HashAggregate partial sits below the exchange "
        f"({partial_before_exchange}), so the shuffle carries O(P x k x d) "
        "doubles per iteration — vectors never leave their executor and the "
        "driver holds only the k x d centroid matrix.",
    ))

    # duplicate n-gram span removal (ExactSubstr): q_dup_span_report
    # eagerly runs pass 1 (unique-hash dup set) when called; the
    # returned frame's plan is pass 2 + the island merge
    df = entrymod.q_dup_span_report(spark, sf)
    plan = explain_str(df)
    # formatted plans print each exchange twice (tree node + detail
    # paragraph) — count the detail paragraphs only
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    no_occ_exchange = n_exchanges <= 2
    sections.append((
        "Duplicate n-gram span report (ExactSubstr-style)",
        plan,
        "- pass 1 (not in this plan; runs eagerly) folds per-partition "
        "gram-hash counts Arrow-side — the exchange carries unique 8-byte "
        "hashes, never the occurrence stream and never a gram string.\n"
        f"- pass 2 is one MapInArrow over the scan (`{'MapInArrow' in plan}`) "
        "emitting ONLY hit positions against the sorted broadcast dup set: "
        f"the occurrence stream never shuffles (exchanges in plan <= 2: "
        f"{no_occ_exchange} — the tiny-input scan-spread round-robin plus "
        "the hit-stream hash exchange, which the window and span groupBy "
        "SHARE).\n"
        "- this is the operator's only path; the DuckDB gram-string oracle "
        "hash-greens it at both gate scales, and tests/test_plan_guards.py "
        "pins the single MapInArrow and the unshuffled occurrence stream.",
    ))

    # hashed NB classifier scoring: map-only in BOTH engines
    from sketch_spark.operators.classifier import nb_score, nb_train

    docs_tbl = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    w_nb, b_nb = nb_train(docs_tbl, F.col("lang") == "en", engine="arrow")
    plan_arrow = explain_str(nb_score(docs_tbl, w_nb, b_nb, engine="arrow"))
    plan_sql = explain_str(nb_score(docs_tbl, w_nb, b_nb, engine="sql"))
    sections.append((
        "Hashed NB classifier scoring (map-only, both engines)",
        plan_arrow,
        f"- arrow engine (shown; the contract/scale path): one MapInArrow "
        f"over the scan ({'MapInArrow' in plan_arrow}) with ZERO exchanges "
        f"({'Exchange' not in plan_arrow}) — dictionary-encode hash path, "
        "md5 per batch-unique token.\n"
        f"- sql engine plan is also exchange-free codegen "
        f"({'Exchange' not in plan_sql and 'EvalPython' not in plan_sql}): "
        "weight table as an array literal, exact integer fold; the two "
        "engines are bit-equal (pytest).  Training is one partial-row-per-"
        "task mapInArrow aggregate (not shown).",
    ))

    # hybrid retrieval: candidate set broadcasts into the embeddings join
    df = entrymod.q_hybrid_topk(spark, sf)
    plan = explain_str(df)
    sections.append((
        "Hybrid BM25+cosine retrieval",
        plan,
        f"- the candidate set BROADCASTS into the embeddings join "
        f"(BroadcastHashJoin present: {'BroadcastHashJoin' in plan}; "
        f"SortMergeJoin absent: {'SortMergeJoin' not in plan}) — the "
        "corpus-scale embeddings table is scanned once and never shuffled.\n"
        "- final top-k is TakeOrderedAndProject over candidate-scale rows: "
        f"{'TakeOrderedAndProject' in plan}.",
    ))

    # shard manifest: one shard-id exchange, per-shard window, no global sort
    df = entrymod.q_training_shards(spark, sf)
    plan = explain_str(df)
    one_exchange_kinds = plan.count("Exchange hashpartitioning")
    sections.append((
        "Training-shard export manifest",
        plan,
        f"- shard assignment and training order are map-only md5 "
        "projections; the window + groupBy share the shard partitioning "
        f"(hash exchanges in plan: {one_exchange_kinds}).\n"
        f"- NO global-order window / global sort anywhere: "
        f"{'SinglePartition' not in plan} — the fingerprint is an "
        "order-sensitive bit_xor fold computed per shard.",
    ))

    # decayed top-k: map-side dyadic weights, one exchange, per-type window
    df = entrymod.q_decayed_topk(spark, sf)
    plan = explain_str(df)
    sections.append((
        "Time-decayed top-k (dyadic integer weights)",
        plan,
        "- the decay weight is a map-side codegen projection; the "
        "aggregation is an ordinary partial-aggregated LongType sum "
        f"(partial_sum present: {'partial_sum' in plan or 'partial' in plan}) "
        "— a plain count's plan, one hash exchange.\n"
        "- the rank window partitions by event_type "
        f"(SinglePartition global window absent: {'SinglePartition' not in plan}).",
    ))

    # streaming near-dedup index probe: epoch partition pruning
    import shutil

    from sketch_spark.streaming.dedup_stream import init_near_dedup_index

    idx_root = "/tmp/plan_report_neardup_idx"
    shutil.rmtree(idx_root, ignore_errors=True)
    docs001 = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    init_near_dedup_index(docs001.limit(200), idx_root)
    keys = spark.read.parquet(os.path.join(idx_root, "keys")).filter(
        F.col("epoch") < 1
    )
    plan = explain_str(keys)
    sections.append((
        "Streaming near-dedup index read (epoch < current)",
        plan,
        "- the replay-safety predicate `epoch < current` lands as a "
        f"PartitionFilter at the scan: {'PartitionFilters' in plan and 'epoch' in plan} "
        "— a replayed micro-batch reads exactly the committed prefix, "
        "and the scan is O(committed epochs), never O(directory).",
    ))

    # bucketed co-located join: zero Exchange (the Iceberg bucket(N, key) story)
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        bdir = "/tmp/plan_report_buckets"
        shutil.rmtree(bdir, ignore_errors=True)
        stats = docs001.select("doc_id", F.length("text").alias("n_chars"))
        for name, bdf in (("plan_bkt_docs", docs001), ("plan_bkt_stats", stats)):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                bdf.write.bucketBy(8, "doc_id")
                .sortBy("doc_id")
                .option("path", os.path.join(bdir, name))
                .saveAsTable(name)
            )
        joined = spark.table("plan_bkt_docs").join(
            spark.table("plan_bkt_stats"), "doc_id"
        )
        plan = explain_str(joined)
        sections.append((
            "Bucketed co-located join (Iceberg bucket(N, key) stand-in)",
            plan,
            "- both sides bucketed on the join key: SortMergeJoin with "
            f"ZERO Exchange ({'Exchange' not in plan}) — at 100 TB this is "
            "the difference between a metadata-only merge and shuffling "
            "both tables; pinned as a pytest "
            "(test_plan_guards::test_bucketed_tables_join_without_shuffle).",
        ))
        for name in ("plan_bkt_docs", "plan_bkt_stats"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    # banded-Hamming near-dup tail (shared by image + audio): the
    # signature pass is the only python stage; pairs come from a banded
    # self-join on small ints, verify is JVM bit_count
    df = entrymod.q_audio_near_dups(spark, sf)
    plan = explain_str(df)
    n_py = plan.count("MapInPandas")
    sections.append((
        "Perceptual near-dup (audio; image shares the banded tail)",
        plan,
        f"- exactly one python stage in the whole pipeline: MapInPandas x{n_py} "
        "(decode + signature; the localCheckpoint caches it, so band explode "
        "and both pair sides reread signatures, never blobs).\n"
        "- candidates from a banded self-join on (band_idx, band_val) ints; "
        "the Hamming verify is JVM-side "
        f"(bit_count in plan: {'bit_count' in plan}) — PCM/pixels never ride "
        "any exchange, and degenerate buckets are capped before the join.",
    ))

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan evidence (generated by tools/plan_report.py)\n\n"
            "Spark `explain('formatted')` output for the scale-critical paths,\n"
            "with the properties SURVEY.md §4.2 demands called out. Regenerate\n"
            "after plan-affecting changes: `python tools/plan_report.py`.\n\n"
        )
        for title, plan, notes in sections:
            f.write(f"## {title}\n\n{notes}\n\n```\n{trim(plan)}\n```\n\n")
    spark.stop()
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
