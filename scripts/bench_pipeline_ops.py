"""Measure the round-3 pipeline operators at organic scale (500k docs)
— clean_corpus, BM25, inverted index, distributed k-means — and print
one JSON line per op.  Appends nothing; paste the numbers into
BENCH.md's round-3 section by hand (they are point measurements, not
the recurring scaling protocol).

Usage: python scripts/bench_pipeline_ops.py [--rows 500000] [--cores 16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=500_000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--vec-rows", type=int, default=500_000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sketch_spark.session import get_spark

    table = f"/tmp/sketch_spark_scaling_pages_{args.rows}"
    spark = get_spark("bench-pipeline-ops", cores=args.cores,
                      shuffle_partitions=args.cores)
    if not os.path.exists(os.path.join(table, f".generated_{args.rows}")):
        from sketch_spark.sources.pages import write_pages_spark

        write_pages_spark(spark, table, args.rows, seed=42)
        open(os.path.join(table, f".generated_{args.rows}"), "w").write("ok")

    docs = (
        spark.read.parquet(os.path.join(table, "pages"))
        .select(F.xxhash64("url").alias("doc_id"), "text")
    )
    docs.count()  # warm page cache + workers

    def timed(name, fn, unit_rows):
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        print(json.dumps({
            "op": name, "wall_sec": round(wall, 2), "rows": unit_rows,
            "rows_per_sec": round(unit_rows / wall, 1), "result": out,
            "cores": args.cores,
        }))

    from sketch_spark.operators.filtering import clean_corpus

    timed("clean_corpus", lambda: clean_corpus(docs).count(), args.rows)

    from sketch_spark.operators.retrieval import bm25_topk, inverted_index

    timed(
        "bm25_topk",
        lambda: len(bm25_topk(docs, ["w1", "w17", "w123"], k=20).collect()),
        args.rows,
    )
    timed("inverted_index", lambda: inverted_index(docs).count(), args.rows)

    # deterministic synthetic embeddings (pure Catalyst; no external data)
    emb = (
        spark.range(args.vec_rows)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda j: (F.pmod(F.xxhash64(F.col("id") * 64 + j), F.lit(1000))
                           .cast("double") / 500.0 - 1.0),
            ).alias("embedding"),
        )
        .repartition(args.cores * 2)
    )
    emb.persist().count()

    from sketch_spark.operators.dedup import (
        duplicate_ngram_spans,
        remove_duplicate_spans,
    )

    timed(
        "dup_span_report_n10",
        lambda: duplicate_ngram_spans(docs, n=10, min_count=2).count(),
        args.rows,
    )
    # aggregate n_removed so the optimizer cannot eliminate the span
    # subtree under a bare count (left join with unique keys preserves
    # row count, so .count() alone measures nothing)
    timed(
        "dup_span_removal_n10",
        lambda: int(
            remove_duplicate_spans(docs, n=10, min_count=2)
            .agg(F.sum("n_removed").alias("s"))
            .collect()[0]["s"]
        ),
        args.rows,
    )

    from sketch_spark.operators.sampling import rank_buckets

    scored = docs.select("doc_id", F.length("text").cast("double").alias("score"))
    timed(
        "rank_buckets_10",
        lambda: rank_buckets(scored, "score", n_buckets=10)
        .groupBy("bucket")
        .count()
        .count(),
        args.rows,
    )

    from sketch_spark.operators.clustering import kmeans_fit

    timed(
        "kmeans_fit_2iters_k16",
        lambda: kmeans_fit(emb, k=16, iters=2).shape[0],
        args.vec_rows * 2,  # vectors assigned per pass x 2 iterations
    )

    # semantic dedup at vector scale: 5% planted twins, LSH-bucketed
    # candidate pairs (NOT exact all-pairs), components, keep flags
    from sketch_spark.operators.similarity import (
        embedding_near_duplicates,
        semantic_dedup_report,
    )

    twins = (
        emb.filter(F.pmod(F.col("vec_id"), F.lit(20)) == 0)
        .select((F.col("vec_id") + args.vec_rows).alias("vec_id"), "embedding")
    )
    corpus = emb.unionByName(twins)

    def _semantic():
        pairs = embedding_near_duplicates(
            corpus, threshold=0.99, bits=10, n_tables=2
        )
        rep = semantic_dedup_report(corpus, pairs=pairs)
        drops = rep.filter(~F.col("keep")).count()
        return drops  # ~= number of planted twins found

    timed("semantic_dedup_lsh_planted", _semantic, args.vec_rows)

    # late round-3 additions: shard export manifest, hashed NB
    # classifier train+score, hybrid retrieval
    from sketch_spark.operators.packing import shard_manifest
    from sketch_spark.operators.classifier import nb_score, nb_train
    from sketch_spark.operators.retrieval import hybrid_topk

    n_shards = max(8, args.rows // 50_000)
    timed(
        f"shard_manifest_{n_shards}shards",
        lambda: shard_manifest(docs, n_shards, id_col="doc_id").count(),
        args.rows,
    )

    def _nb(engine, d):
        # label: host parity via doc_id — meaningless semantically but
        # exercises the full train+score cost honestly
        w, b = nb_train(
            d, F.pmod(F.col("doc_id"), F.lit(2)) == 0, n_buckets=1024,
            engine=engine,
        )
        return (
            nb_score(d, w, b, engine=engine)
            .agg(F.sum("pred"))
            .collect()[0][0]
        )

    timed("nb_train_plus_score_1024buckets_arrow", lambda: _nb("arrow", docs),
          args.rows * 2)
    # the per-occurrence-md5 Catalyst engine is ~20x slower (md5-bound);
    # time it on a 10% slice so the script stays runnable — the label
    # carries the slice size
    sql_slice = docs.limit(args.rows // 10).localCheckpoint(eager=True)
    timed("nb_train_plus_score_1024buckets_sql_50k", lambda: _nb("sql", sql_slice),
          args.rows // 10 * 2)

    qv = [((i * 37) % 1000) / 500.0 - 1.0 for i in range(64)]
    # docs carry xxhash64 ids; fold them into the vec_id range so the
    # candidate->embedding join actually matches (timing, not semantics)
    docs_h = docs.withColumn("doc_id", F.pmod(F.col("doc_id"), F.lit(args.vec_rows)))
    timed(
        "hybrid_topk_50cand",
        lambda: len(
            hybrid_topk(
                docs_h, emb, ["w1", "w17", "w123"], qv, k=10, n_candidates=50,
                emb_id_col="vec_id",
            ).collect()
        ),
        args.rows,
    )

    # final round-3 additions: RRF fusion + incremental semantic probe
    from sketch_spark.operators.retrieval import rrf_topk

    timed(
        "rrf_topk_50cand",
        lambda: len(
            rrf_topk(
                docs_h, emb, ["w1", "w17", "w123"], qv, k=10, n_candidates=50,
                emb_id_col="vec_id",
            ).collect()
        ),
        args.rows,
    )

    import shutil

    from sketch_spark.operators.similarity import (
        build_ann_index,
        incremental_semantic_dedup,
    )

    idx = f"/tmp/bench_sem_idx_{args.vec_rows}"

    def _isd_build():
        shutil.rmtree(idx, ignore_errors=True)
        build_ann_index(emb, idx, n_cells=32)
        return 32

    timed("ann_index_build_32cells", _isd_build, args.vec_rows)
    # probe the planted twins (5% of the corpus) as the "new crawl":
    # every twin must find its original at cos 1.0; the nprobe=4 row's
    # result/count vs the exact row IS the measured recall
    n_new = args.vec_rows // 20

    def _isd(nprobe):
        return incremental_semantic_dedup(
            twins, idx, threshold=0.99, nprobe=nprobe
        ).count()

    timed("incr_semantic_probe_nprobe4", lambda: _isd(4), n_new)
    timed("incr_semantic_probe_exact_all_cells", lambda: _isd("all"), n_new)
    spark.stop()


if __name__ == "__main__":
    main()
