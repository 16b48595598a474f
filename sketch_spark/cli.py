"""spark-submit entry points (north_rule: "run via spark-submit
--py-files on a multi-executor cluster").

Launch shape:

    spark-submit --master <cluster> \
        --py-files sketch_spark.zip \
        scripts/run_job.py <subcommand> [args...]

The script gets its SparkSession from the submit configs (master,
executor counts, memory all come from the cluster launcher, never from
this code); ``sketch_spark.session.package_zip()`` builds the
``--py-files`` artifact.  Subcommands:

  build      one pass over a parquet/Iceberg table -> merged sketch
             states written as a parquet state table (executor-side
             write, no driver collect) + a metrics JSON.
  build-ckpt same, through the resumable checkpointed job (bucket
             lineage; re-running after a kill completes only the
             remaining buckets).
  estimate   point queries against a written state table.
  dedup      corpus near-dup dedup -> survivors parquet.
  pagerank   fixed-point link PageRank over an edge parquet
             (--teleport seed parquet switches to TrustRank).
  decode     real multimodal decode / features / media dedup (exact
             image dups + the image/video/audio near-dup trio).
  warc-ingest  .warc/.warc.gz archives -> pages table (url, warc_ts,
             html, text, lang) with Catalyst text extraction + lang id.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(app: str):
    from pyspark.sql import SparkSession

    return SparkSession.builder.appName(app).getOrCreate()


_DEFAULT_PARAMS = {
    "cmcu": {"depth": 4, "log2_width": 14},
    "cm": {"depth": 4, "log2_width": 14},
    "hll": {"p": 14},
    "bloom": {"log2_bits": 20, "k": 5},
    "kll": {"k": 200},
    "tdigest": {"delta": 100},
}


def _specs(
    kinds: str,
    text_col: str,
    seed: int,
    params_json: str | None,
    numeric_col: str | None = None,
):
    from .operators.aggregate import SketchSpec

    overrides = json.loads(params_json) if params_json else {}
    specs = []
    for kind in kinds.split(","):
        kind = kind.strip()
        params = dict(_DEFAULT_PARAMS.get(kind, {}))
        params.update(overrides.get(kind, {}))
        # --params can pin a per-kind seed; --seed is only the default
        params.setdefault("seed", seed)
        if kind in ("kll", "tdigest"):
            if numeric_col is None:
                raise SystemExit(
                    f"sketch kind {kind!r} needs --numeric-col (it consumes raw "
                    "numeric values, not tokenized text)"
                )
            specs.append(SketchSpec(kind, kind, numeric_col, mode="numeric", params=params))
        else:
            specs.append(SketchSpec(kind, kind, text_col, mode="tokens", params=params))
    return specs


def cmd_build(args) -> None:
    from .operators.aggregate import build_partials, merge_partials

    spark = _spark("sketch-build")
    df = spark.read.parquet(args.input)
    group_cols = args.group_by.split(",") if args.group_by else []
    specs = _specs(args.kinds, args.text_col, args.seed, args.params, args.numeric_col)
    partials = build_partials(df, specs, group_cols)
    merged = merge_partials(partials, group_cols)
    # states flow executor-side straight into the parquet sink — the
    # driver never holds them
    merged.write.mode("overwrite").parquet(os.path.join(args.out, "states"))
    meta = (
        spark.read.parquet(os.path.join(args.out, "states"))
        .select(*group_cols, "spec", "n_rows", "n_values")
        .collect()
    )
    metrics = [r.asDict() for r in meta]
    with open(os.path.join(args.out, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1, default=str)
    print(json.dumps({"states": len(metrics), "out": args.out}))


def cmd_build_ckpt(args) -> None:
    from .operators.checkpoint import CheckpointedSketchJob

    spark = _spark("sketch-build-ckpt")
    df = spark.read.parquet(args.input)
    specs = _specs(args.kinds, args.text_col, args.seed, args.params, args.numeric_col)
    job = CheckpointedSketchJob(
        df, specs, args.out, key_col=args.key_col, n_buckets=args.n_buckets
    )
    job.run()
    res = job.result(validate_lineage=True)
    print(json.dumps({"specs": sorted(k[-1] for k in res.keys()), "out": args.out}))


def cmd_estimate(args) -> None:
    from .operators.aggregate import SketchResult

    spark = _spark("sketch-estimate")
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(os.path.join(args.states, "states"))
        .filter(F.col("spec") == F.lit(args.spec))
        .select("spec", "state", "n_rows", "n_values")
        .collect()
    )
    if not rows:
        raise SystemExit(f"no state rows for spec {args.spec!r}")
    # every group's state for the spec merges into one sketch
    sk = SketchResult([r.asDict() for r in rows], []).sketch(args.spec)
    if not hasattr(sk, "estimate_tokens"):
        raise SystemExit(
            f"spec {args.spec!r} ({type(sk).__name__}) is not token-estimable; "
            "point --spec at a cm/cmcu state"
        )
    tokens = args.tokens.split(",")
    est = sk.estimate_tokens(tokens)
    print(json.dumps(dict(zip(tokens, [int(e) for e in est]))))


def cmd_dedup(args) -> None:
    from .operators.dedup import dedup_corpus

    spark = _spark("corpus-dedup")
    df = spark.read.parquet(args.input)
    out = dedup_corpus(
        df, args.id_col, args.text_col, threshold=args.threshold, seed=args.seed
    )
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"survivors": spark.read.parquet(args.out).count()}))


def cmd_line_dedup(args) -> None:
    from .operators.dedup import remove_boilerplate_lines

    spark = _spark("line-dedup")
    df = spark.read.parquet(args.input)
    out = remove_boilerplate_lines(
        df,
        text_col=args.text_col,
        id_col=args.id_col,
        min_docs=args.min_docs,
        min_chars=args.min_chars,
        sep=args.sep.replace("\\n", "\n"),
    )
    out.write.mode("overwrite").parquet(args.out)
    import pyspark.sql.functions as F

    stats = (
        spark.read.parquet(args.out)
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_removed").alias("lines_removed"),
        )
        .collect()[0]
    )
    print(json.dumps({"docs": stats["docs"], "lines_removed": int(stats["lines_removed"] or 0)}))


def cmd_vocab_coverage(args) -> None:
    from .operators.frequent import vocab_coverage

    spark = _spark("vocab-coverage")
    df = spark.read.parquet(args.input)
    ppm = tuple(int(x) for x in args.ppm.split(","))
    out = vocab_coverage(df, coverages_ppm=ppm, text_col=args.text_col)
    if args.out:
        # write once, summarize from the written parquet — never
        # recompute the corpus-scale job for the printed summary
        out.write.mode("overwrite").parquet(args.out)
        out = spark.read.parquet(args.out)
    rows = [r.asDict() for r in out.orderBy("coverage_ppm").collect()]
    print(json.dumps({"curve": rows}))


def cmd_fd_spectrum(args) -> None:
    from .operators.aggregate import fd_spectrum

    spark = _spark("fd-spectrum")
    df = spark.read.parquet(args.input)
    out = fd_spectrum(df, vec_col=args.vec_col, ell=args.ell, k=args.k)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        out = spark.read.parquet(args.out)
    rows = [r.asDict() for r in out.orderBy("component").collect()]
    print(json.dumps({"spectrum": rows}))


def cmd_pagerank(args) -> None:
    from .operators.graph import pagerank_fixed_point

    spark = _spark("link-pagerank")
    edges = spark.read.parquet(args.input)
    teleport = spark.read.parquet(args.teleport) if args.teleport else None
    out = pagerank_fixed_point(
        edges,
        src_col=args.src_col,
        dst_col=args.dst_col,
        n_iter=args.iters,
        damping_pct=args.damping_pct,
        teleport=teleport,
    )
    out.write.mode("overwrite").parquet(args.out)
    written = spark.read.parquet(args.out)
    print(
        json.dumps(
            {
                "nodes": written.count(),
                "zero_rank": written.filter("rank_units = 0").count(),
            }
        )
    )


def cmd_decode(args) -> None:
    from .functions.multimodal import (
        audio_near_duplicates,
        decode_avi_frames_df,
        decode_images_df,
        decode_wavs_df,
        image_exact_duplicates,
        image_near_duplicates,
        image_stats_df,
        video_duplicates,
        wav_features_df,
    )

    fn = {
        "images": decode_images_df,
        "image-stats": image_stats_df,
        "wavs": decode_wavs_df,
        "wav-features": wav_features_df,
        "avi-frames": decode_avi_frames_df,
        # media dedup over decoded content (exact + the near-dup trio)
        "image-dups": image_exact_duplicates,
        "image-near-dups": image_near_duplicates,
        "video-dups": video_duplicates,
        "audio-near-dups": audio_near_duplicates,
    }[args.kind]
    spark = _spark("multimodal-decode")
    df = spark.read.parquet(args.input)
    out = fn(df, args.bin_col, args.id_col, on_error=args.on_error)
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rows": spark.read.parquet(args.out).count()}))


def cmd_warc_ingest(args) -> None:
    from pyspark.sql import functions as F

    from .functions.text import lang_id_col
    from .sources.pages import extract_text_col
    from .sources.warc import read_warc

    spark = _spark("warc-ingest")
    pages = read_warc(spark, args.input)
    if args.extract_text:
        pages = pages.withColumn(
            "text", F.decode(extract_text_col("html"), "UTF-8")
        ).withColumn("lang", lang_id_col("text"))
    pages.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"pages": spark.read.parquet(args.out).count(), "out": args.out}))


def cmd_tune_lsh(args) -> None:
    # driver-side math only — no Spark session needed
    from .operators.tuning import choose_lsh_params

    b, r = choose_lsh_params(args.threshold, args.num_perm)
    print(json.dumps({"bands": b, "rows_per_band": r, "num_perm": args.num_perm}))


def cmd_index_build(args) -> None:
    from .operators.dedup import write_minhash_index

    spark = _spark("minhash-index-build")
    df = spark.read.parquet(args.input)
    bands = args.bands
    if bands == "auto":
        from .operators.tuning import choose_lsh_params

        bands, _ = choose_lsh_params(args.threshold, args.num_perm)
    meta = write_minhash_index(
        df, args.index, args.id_col, args.text_col,
        num_perm=args.num_perm, seed=args.seed, bands=int(bands),
        mode="append" if args.append else "overwrite",
    )
    print(json.dumps({"index": args.index, **meta}))


def cmd_index_probe(args) -> None:
    from .operators.dedup import incremental_near_duplicates

    spark = _spark("minhash-index-probe")
    new = spark.read.parquet(args.input)
    old = spark.read.parquet(args.old_docs)
    pairs = incremental_near_duplicates(
        new, args.index, old, threshold=args.threshold, text_col=args.text_col
    )
    pairs.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"pairs": spark.read.parquet(args.out).count(), "out": args.out}))


def cmd_stream_dedup(args) -> None:
    from .streaming.dedup_stream import streaming_near_dedup

    spark = _spark("stream-near-dedup")
    schema = spark.read.parquet(args.input).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", args.max_files_per_trigger)
        .parquet(args.input)
    )
    q = streaming_near_dedup(
        stream,
        args.index_root,
        threshold=args.threshold,
        update_index=args.update_index,
        within_batch=args.within_batch,
    )
    q.awaitTermination()
    pairs = spark.read.parquet(f"{args.index_root}/pairs")
    print(json.dumps({"pairs": pairs.count(), "index_root": args.index_root}))


def cmd_submit(args) -> None:
    """Build (and validate) the real-cluster spark-submit invocation for
    any other subcommand; ``--dry-run`` prints it instead of exec()ing
    (deploy.py has the profile rationale)."""
    import json as _json

    from .deploy import format_command, iceberg_conf, submit_command

    extra = _json.loads(args.conf) if args.conf else None
    ice = None
    if args.iceberg_catalog:
        ice = iceberg_conf(args.iceberg_catalog, args.iceberg_warehouse)
    # argparse REMAINDER keeps the documented "--" separator in the
    # list; passing it through would die at the job's own argparse
    job_args = args.job_args[1:] if args.job_args[:1] == ["--"] else args.job_args
    cmd = submit_command(
        job_args,
        master=args.master,
        deploy_mode=args.deploy_mode,
        iceberg=ice,
        extra_conf=extra,
    )
    if args.dry_run:
        print(format_command(cmd))
        return
    os.execvp(cmd[0], cmd)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="sketch_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--text-col", default="text")
    b.add_argument("--kinds", default="cmcu,hll,bloom")
    b.add_argument("--group-by", default="")
    b.add_argument("--seed", type=int, default=1)
    b.add_argument("--numeric-col", default=None, help="column for kll/tdigest specs")
    b.add_argument("--params", default=None, help="JSON {kind: {param: value}}")
    b.set_defaults(fn=cmd_build)

    c = sub.add_parser("build-ckpt")
    c.add_argument("--input", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--text-col", default="text")
    c.add_argument("--kinds", default="cmcu")
    c.add_argument("--key-col", default="url")
    c.add_argument("--n-buckets", type=int, default=16)
    c.add_argument("--seed", type=int, default=1)
    c.add_argument("--numeric-col", default=None, help="column for kll/tdigest specs")
    c.add_argument("--params", default=None)
    c.set_defaults(fn=cmd_build_ckpt)

    e = sub.add_parser("estimate")
    e.add_argument("--states", required=True)
    e.add_argument("--spec", default="cmcu")
    e.add_argument("--tokens", required=True)
    e.set_defaults(fn=cmd_estimate)

    d = sub.add_parser("dedup")
    d.add_argument("--input", required=True)
    d.add_argument("--out", required=True)
    d.add_argument("--id-col", default="doc_id")
    d.add_argument("--text-col", default="text")
    d.add_argument("--threshold", type=float, default=0.8)
    d.add_argument("--seed", type=int, default=1)
    d.set_defaults(fn=cmd_dedup)

    ld = sub.add_parser(
        "line-dedup",
        help="C4/CCNet line-level boilerplate removal (line in >= N docs)",
    )
    ld.add_argument("--input", required=True)
    ld.add_argument("--out", required=True)
    ld.add_argument("--id-col", default="doc_id")
    ld.add_argument("--text-col", default="text")
    ld.add_argument("--min-docs", type=int, default=3)
    ld.add_argument("--min-chars", type=int, default=10)
    ld.add_argument(
        "--sep", default="\\n",
        help=r"literal unit separator; \n escapes allowed ('\n\n' = paragraphs)",
    )
    ld.set_defaults(fn=cmd_line_dedup)

    vc = sub.add_parser(
        "vocab-coverage", help="minimal-vocab coverage curve (integer-exact)"
    )
    vc.add_argument("--input", required=True)
    vc.add_argument("--out", default=None)
    vc.add_argument("--text-col", default="text")
    vc.add_argument("--ppm", default="500000,900000,990000,999000")
    vc.set_defaults(fn=cmd_vocab_coverage)

    fs = sub.add_parser(
        "fd-spectrum",
        help="Frequent Directions corpus embedding spectrum (streaming PCA)",
    )
    fs.add_argument("--input", required=True)
    fs.add_argument("--out", default=None)
    fs.add_argument("--vec-col", default="embedding")
    fs.add_argument("--ell", type=int, default=16)
    fs.add_argument("--k", type=int, default=8)
    fs.set_defaults(fn=cmd_fd_spectrum)

    pr = sub.add_parser(
        "pagerank",
        help="fixed-point link PageRank; --teleport seeds give TrustRank",
    )
    pr.add_argument("--input", required=True, help="edge parquet (src,dst)")
    pr.add_argument("--out", required=True)
    pr.add_argument("--src-col", default="src")
    pr.add_argument("--dst-col", default="dst")
    pr.add_argument("--iters", type=int, default=10)
    pr.add_argument("--damping-pct", type=int, default=85)
    pr.add_argument("--teleport", default=None, help="seed-node parquet")
    pr.set_defaults(fn=cmd_pagerank)

    dc = sub.add_parser(
        "decode", help="real multimodal decode / features / media dedup"
    )
    dc.add_argument(
        "kind",
        choices=[
            "images",
            "image-stats",
            "wavs",
            "wav-features",
            "avi-frames",
            "image-dups",
            "image-near-dups",
            "video-dups",
            "audio-near-dups",
        ],
    )
    dc.add_argument("--input", required=True, help="parquet with a binary column")
    dc.add_argument("--out", required=True)
    dc.add_argument("--bin-col", default="image")
    dc.add_argument("--id-col", default="url")
    dc.add_argument("--on-error", choices=["raise", "skip"], default="skip")
    dc.set_defaults(fn=cmd_decode)

    w = sub.add_parser("warc-ingest")
    w.add_argument("--input", required=True, help=".warc/.warc.gz path or glob")
    w.add_argument("--out", required=True)
    w.add_argument("--extract-text", action="store_true", default=True)
    w.add_argument("--no-extract-text", dest="extract_text", action="store_false")
    w.set_defaults(fn=cmd_warc_ingest)

    t = sub.add_parser("tune-lsh")
    t.add_argument("--threshold", type=float, required=True)
    t.add_argument("--num-perm", type=int, default=64)
    t.set_defaults(fn=cmd_tune_lsh)

    ib = sub.add_parser("index-build")
    ib.add_argument("--input", required=True)
    ib.add_argument("--index", required=True)
    ib.add_argument("--id-col", default="doc_id")
    ib.add_argument("--text-col", default="text")
    ib.add_argument("--num-perm", type=int, default=64)
    ib.add_argument("--bands", default="16", help="band count or 'auto'")
    ib.add_argument("--threshold", type=float, default=0.5, help="for --bands auto")
    ib.add_argument("--seed", type=int, default=1)
    ib.add_argument("--append", action="store_true")
    ib.set_defaults(fn=cmd_index_build)

    ip = sub.add_parser("index-probe")
    ip.add_argument("--input", required=True, help="new batch parquet")
    ip.add_argument("--index", required=True)
    ip.add_argument("--old-docs", required=True, help="indexed corpus parquet")
    ip.add_argument("--out", required=True)
    ip.add_argument("--text-col", default="text")
    ip.add_argument("--threshold", type=float, default=0.5)
    ip.set_defaults(fn=cmd_index_probe)

    sd = sub.add_parser("stream-dedup")
    sd.add_argument("--input", required=True, help="parquet dir consumed as a file stream")
    sd.add_argument("--index-root", required=True, help="init_near_dedup_index root")
    sd.add_argument("--threshold", type=float, default=0.5)
    sd.add_argument("--max-files-per-trigger", type=int, default=2)
    sd.add_argument("--no-update-index", dest="update_index", action="store_false", default=True)
    sd.add_argument("--no-within-batch", dest="within_batch", action="store_false", default=True)
    sd.set_defaults(fn=cmd_stream_dedup)

    sm = sub.add_parser(
        "submit",
        help="emit/exec the validated real-cluster spark-submit for a job "
        "(sketch_spark submit --dry-run -- build --input ... --out ...)",
    )
    sm.add_argument("--master", default="yarn")
    sm.add_argument("--deploy-mode", default="client")
    sm.add_argument("--dry-run", action="store_true")
    sm.add_argument("--conf", default=None, help='JSON {"spark.x": "y"} overrides')
    sm.add_argument("--iceberg-catalog", default=None)
    sm.add_argument("--iceberg-warehouse", default="s3://bucket/warehouse")
    sm.add_argument("job_args", nargs=argparse.REMAINDER, help="subcommand + its args")
    sm.set_defaults(fn=cmd_submit)

    args = p.parse_args(argv if argv is not None else sys.argv[1:])
    args.fn(args)


if __name__ == "__main__":
    main()
