"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator surface from SURVEY.md §2 /
the training-data-pipeline battery; ``oracle_sql()`` holds the DuckDB
equivalent for every exactly-SQL-expressible query (same column names,
same rounding).  Sketch-estimate queries (deterministic given fixed
seeds, but not SQL-expressible) are registered without an oracle —
their correctness is carried by the pytest layers (exact-count bounds,
merge laws, reference parity).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W

from sketch_spark.functions.text import tokens_col, tokens_sql
from sketch_spark.session import ship_package

_TOKS = tokens_sql("text")


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the session may come from outside get_spark: ship the package once
    ship_package(spark.sparkContext)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _tokens(df: DataFrame, extra_cols: list[str] | None = None) -> DataFrame:
    """Exploded (tok, ...) rows of the text column (JVM-side)."""
    cols = [F.explode(tokens_col("text")).alias("tok")] + [
        F.col(c) for c in (extra_cols or [])
    ]
    return df.select(*cols)


# ---------------------------------------------------------------------------
# documents: text analysis / sketch surface
# ---------------------------------------------------------------------------
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact whitespace-token frequencies (cnt >= 200) — the baseline
    the CMCU/HH sketch paths are judged against."""
    docs = _read(spark, sf_dir, "documents")
    return (
        _tokens(docs)
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 200)
        .select(F.col("tok").alias("token"), "cnt")
    )


def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram frequencies (cnt >= 25) via the Arrow
    map-side-combine n-gram counter."""
    # Arrow map-side combine: the shuffle carries per-partition UNIQUE
    # bigrams, not the exploded occurrence stream (6x vs codegen
    # explode at sf0.1; identical exact semantics, same oracle)
    from sketch_spark.functions.text import ngram_count_df

    docs = _read(spark, sf_dir, "documents")
    return ngram_count_df(docs, "text", 2, min_count=25, out_col="bigram")


def q_emerging_hh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: emerging heavy hitters (CMCU prefilter + exact verify),
    test window = odd doc_id, control = even doc_id."""
    from sketch_spark.operators.emerging import emerging_heavy_hitters

    docs = _read(spark, sf_dir, "documents")
    ctrl_sources = ["src15", "src16", "src17", "src18", "src19"]
    test = docs.filter(~F.col("source").isin(ctrl_sources))
    ctrl = docs.filter(F.col("source").isin(ctrl_sources))
    return emerging_heavy_hitters(
        test, ctrl, "text", threshold=100, growth=2.0, mode="exact",
        depth=4, log2_width=14, seed=1,
    )


def q_emerging_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-length variant of the flagship (reference k-mer lengths ->
    word n-grams): emerging bigrams, exact mode."""
    from sketch_spark.operators.emerging import emerging_heavy_hitters

    docs = _read(spark, sf_dir, "documents")
    ctrl_sources = ["src15", "src16", "src17", "src18", "src19"]
    test = docs.filter(~F.col("source").isin(ctrl_sources))
    ctrl = docs.filter(F.col("source").isin(ctrl_sources))
    return emerging_heavy_hitters(
        test, ctrl, "text", threshold=25, growth=2.0, mode="exact",
        depth=4, log2_width=14, seed=1, ngram=2,
    )


def q_distinct_tokens_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language distinct-token counts — the ground truth for
    the HLL/KMV estimate queries."""
    docs = _read(spark, sf_dir, "documents")
    return (
        _tokens(docs, ["lang"])
        .groupBy("lang")
        .agg(F.countDistinct("tok").alias("n_distinct"))
    )


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality-scoring columns (lengths, distinct ratio,
    stopword/punctuation ratios) as one codegen projection."""
    from sketch_spark.functions.text import (
        punct_ratio_col,
        quality_columns,
        stopword_ratio_col,
    )

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    qc = quality_columns("text")
    return docs.select(
        "doc_id",
        qc["n_chars"].alias("n_chars"),
        qc["n_tokens"].alias("n_tokens"),
        qc["n_distinct_tokens"].alias("n_distinct_tokens"),
        qc["distinct_ratio"].alias("distinct_ratio"),
        stopword_ratio_col("text").alias("stopword_ratio"),
        punct_ratio_col("text").alias("punct_ratio"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters per doc: duplicate-token /
    duplicate-n-gram fractions and top-token fraction — all single-pass
    Catalyst array expressions, no token explode, no shuffle."""
    from sketch_spark.functions.text import repetition_columns

    docs = _read(spark, sf_dir, "documents")
    rc = repetition_columns("text")
    return docs.select("doc_id", *[c.alias(k) for k, c in rc.items()])


def _pii_text_col() -> "F.Column":
    """Deterministic PII-bearing text derived from (text, doc_id) —
    the synthetic corpus has no organic PII, so the contract plants
    emails / a phone / an occasional IP the same way on both sides."""
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.when(
            d % 7 == 0,
            F.concat(
                F.lit(" cc admin"),
                (d % 50).cast("string"),
                F.lit("@test.org from 10.0."),
                (d % 256).cast("string"),
                F.lit(".1"),
            ),
        ).otherwise(F.lit("")),
    )


_PII_TEXT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
    "CASE WHEN doc_id % 7 = 0 THEN ' cc admin' || CAST(doc_id % 50 AS VARCHAR) || "
    "'@test.org from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END"
)


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact: per-doc email/phone/IP counts, first email,
    and the md5 of the placeholder-redacted text — all codegen'd regex
    scans, no Python, no shuffle."""
    from sketch_spark.functions.pii import pii_columns, redact_pii_col

    docs = _read(spark, sf_dir, "documents")
    t = _pii_text_col()
    pc = pii_columns(t)
    return docs.select(
        "doc_id",
        pc["n_emails"].alias("n_emails"),
        pc["n_phones"].alias("n_phones"),
        pc["n_ipv4"].alias("n_ipv4"),
        pc["first_email"].alias("first_email"),
        F.md5(redact_pii_col(t)).alias("redacted_md5"),
    )


def _synth_url_col() -> "F.Column":
    """Deterministic messy URL per doc (documents carry no URL column):
    mixed case, default port, missing path, tracking params, unsorted
    params, fragment — every normalization branch gets exercised."""
    d = F.col("doc_id")
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net"), F.lit("io")),
        (d % 4 + 1).cast("int"),
    )
    return F.concat(
        F.lit("HTTPS://WWW.Host"),
        (d % 97).cast("string"),
        F.lit(".Example."),
        tld,
        F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/p/"), d.cast("string"))
        ),
        F.lit("?utm_source=feed&id="),
        (d % 10).cast("string"),
        F.when(d % 3 == 0, F.lit("&ref=rss&b=2")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


_SYNTH_URL_SQL = (
    "'HTTPS://WWW.Host' || CAST(doc_id % 97 AS VARCHAR) || '.Example.' || "
    "['com','org','net','io'][CAST(doc_id % 4 AS INT) + 1] || "
    "CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END || "
    "CASE WHEN doc_id % 11 = 0 THEN '' ELSE '/p/' || CAST(doc_id AS VARCHAR) END || "
    "'?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR) || "
    "CASE WHEN doc_id % 3 = 0 THEN '&ref=rss&b=2' ELSE '' END || "
    "CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END"
)


def _url_norm_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.functions.urls import (
        host_col,
        normalize_url_col,
        registered_domain_col,
    )

    docs = _read(spark, sf_dir, "documents")
    u = _synth_url_col()
    return docs.select(
        "doc_id",
        normalize_url_col(u).alias("url_norm"),
        host_col(u).alias("host"),
        registered_domain_col(u).alias("domain"),
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL crawl dedup: many fetches of the same page under
    presentation junk (case, default port, tracking params, param
    order, fragments) collapse to one canonical key; keep the smallest
    doc_id.  Page identity k = doc_id % 120 (so ~4 fetches share each
    page at sf0.01); the junk varies per doc_id and must ALL normalize
    away.  One partial-aggregated exchange on the canonical key — the
    url-level twin of exact_dedup."""
    from sketch_spark.functions.urls import normalize_url_col

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    k = d % 120
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net"), F.lit("io")),
        (k % 4 + 1).cast("int"),
    )
    u = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS://WWW.Host")).otherwise(
            F.lit("https://www.host")
        ),
        (k % 7).cast("string"),
        F.lit(".Example."),
        tld,
        F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"),
        k.cast("string"),
        F.when(d % 3 == 0, F.concat(F.lit("?a=1&id="), k.cast("string"))).otherwise(
            F.concat(F.lit("?id="), k.cast("string"), F.lit("&a=1"))
        ),
        F.concat(F.lit("&utm_source=s"), (d % 10).cast("string")),
        F.when(d % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return (
        docs.select(d.alias("doc_id"), normalize_url_col(u).alias("url_norm"))
        .groupBy("url_norm")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )


_SYNTH_DUP_URL_SQL = (
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Host' ELSE 'https://www.host' END || "
    "CAST(doc_id % 120 % 7 AS VARCHAR) || '.Example.' || "
    "['com','org','net','io'][CAST(doc_id % 120 % 4 AS INT) + 1] || "
    "CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END || "
    "'/p/' || CAST(doc_id % 120 AS VARCHAR) || "
    "CASE WHEN doc_id % 3 = 0 THEN '?a=1&id=' || CAST(doc_id % 120 AS VARCHAR) "
    "ELSE '?id=' || CAST(doc_id % 120 AS VARCHAR) || '&a=1' END || "
    "'&utm_source=s' || CAST(doc_id % 10 AS VARCHAR) || "
    "CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END"
)


def _url_dedup_oracle_sql() -> str:
    from sketch_spark.functions.urls import url_sql_exprs

    e = url_sql_exprs("url")
    return f"""
        WITH u AS (SELECT doc_id, {_SYNTH_DUP_URL_SQL} AS url FROM documents),
        norm AS (SELECT doc_id, {e['normalized']} AS url_norm FROM u)
        SELECT url_norm, CAST(min(doc_id) AS BIGINT) AS keeper_id,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM norm GROUP BY url_norm
    """


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL pass: codegen'd regex/array expressions, zero
    shuffle — the crawl-dedup key derivation."""
    return _url_norm_df(spark, sf_dir)


def q_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain crawl accounting over normalized URLs —
    one partial-aggregated shuffle on the (tiny) domain key."""
    return (
        _url_norm_df(spark, sf_dir)
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram decontamination: training docs sharing any
    4-gram with the held-out tenth of the corpus.  Eval grams
    broadcast; the training gram stream never shuffles."""
    from sketch_spark.operators.dedup import contamination_report

    docs = _read(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    test = docs.filter(F.col("doc_id") % 10 == 0)
    return contamination_report(train, test, "text", "doc_id", n=4)


def q_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing accounting (concat in doc_id order, split into
    512-token windows) via the two-pass distributed prefix sum in
    operators/packing.py — no global-sort window anywhere in the plan."""
    from sketch_spark.operators.packing import token_chunks

    docs = _read(spark, sf_dir, "documents")
    return token_chunks(docs, "text", "doc_id", chunk_size=512)


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard export manifest (WebDataset-style):
    shard + within-shard order are pure md5 functions of (seed, id);
    the order-SENSITIVE bit_xor fingerprint pins each shard's exact doc
    set AND training order in 8 bytes.  One shard-id exchange +
    per-shard window — no global sort (operators/packing.py)."""
    from sketch_spark.operators.packing import shard_manifest

    docs = _read(spark, sf_dir, "documents")
    return shard_manifest(docs, n_shards=8, id_col="doc_id", seed=1)


def q_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed naive-Bayes classifier (fastText-style LID/quality gate):
    train = ONE mapInArrow bucket-count pass (dictionary-encode hash
    path — md5 per batch-UNIQUE token — each task emits a single
    B-array partial; B-row bounded collect like kmeans_fit); score =
    map-only with fixed-point integer weights, exact integer sums.
    The driver gate runs the ARROW scale path; the Catalyst engine is
    equality-pinned to it in pytest, and train AND score replay
    exactly in DuckDB."""
    from sketch_spark.operators.classifier import nb_score, nb_train

    docs = _read(spark, sf_dir, "documents")
    weights, bias = nb_train(docs, F.col("lang") == "en", engine="arrow")
    return nb_score(docs, weights, bias, engine="arrow").select(
        "doc_id", "score", "pred"
    )


def q_bpe_train_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training + corpus encoding (operators/bpe.py):
    ONE map-side-combined word-count pass -> vocabulary-bounded collect
    -> exact driver merge loop (deterministic tie-break) -> map-only
    Arrow encode (merge cascade once per batch-unique word).  Rows-only
    by nature (iterative merge state is not SQL-expressible); merge
    correctness is pinned against a pure-Python reference in
    tests/test_bpe.py.  Returns the top subwords by occurrence."""
    from sketch_spark.operators.bpe import bpe_encode, bpe_train

    docs = _read(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=100)
    enc = bpe_encode(docs, merges)
    return (
        enc.select(F.explode("subwords").alias("subword"))
        .groupBy("subword")
        .agg(F.count("*").cast("long").alias("total_count"))
        .orderBy(F.col("total_count").desc(), F.col("subword").asc())
        .limit(30)
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-list language ID per document — pure Catalyst, exact
    SQL mirror."""
    from sketch_spark.functions.text import lang_id_col

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_col("text").alias("lang_pred"))


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language ID (the n-gram-heuristic variant of
    lang_id) — pure Catalyst, exact SQL mirror."""
    from sketch_spark.functions.text import lang_id_ngram_col

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_ngram_col("text").alias("lang_pred"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical md5 content fingerprint per document (case-folded) —
    the exact-dedup key."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(F.lower(F.col("text"))).alias("fingerprint")
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: one survivor (min id) per md5 hash, one
    shuffle of (hash, id)."""
    from sketch_spark.operators.dedup import exact_dedup

    return exact_dedup(_read(spark, sf_dir, "documents"), "text", "doc_id")


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata (length, magic-sniffed kind, md5) over an opaque
    binary column — pure Catalyst, no Python stage (PLANS.md §5)."""
    from sketch_spark.functions.multimodal import binary_metadata

    docs = _read(spark, sf_dir, "documents").withColumn("bin", F.encode("text", "UTF-8"))
    return binary_metadata(docs, "bin", "doc_id", id_type="long")


def _synth_images(spark: SparkSession, sf_dir: str, ppm_only: bool = False):
    """Deterministic image blobs built PURELY in Catalyst from doc_id:
    pixel bytes are unhex of the (repeated) md5 hex of 'img-<doc_id>',
    so a SQL oracle can reproduce the decoded-pixel hash from the same
    arithmetic without ever decoding.  Even doc_ids get P6 (RGB), odd
    get P5 (gray, exercising the gray->RGB expansion) unless
    ``ppm_only``."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    df = docs.withColumns(
        {
            "w": (F.lit(3) + F.col("doc_id") % 5).cast("int"),
            "h": (F.lit(2) + F.col("doc_id") % 4).cast("int"),
            "mh": F.md5(F.concat(F.lit("img-"), F.col("doc_id").cast("string"))),
            "is_ppm": F.lit(True) if ppm_only else (F.col("doc_id") % 2 == 0),
        }
    )
    df = df.withColumns(
        {
            "magic": F.when(F.col("is_ppm"), "P6").otherwise("P5"),
            "hexlen": F.when(F.col("is_ppm"), F.lit(6)).otherwise(F.lit(2))
            * F.col("w")
            * F.col("h"),
        }
    )
    return df.withColumn(
        "image",
        F.concat(
            F.encode(
                F.concat_ws(
                    "",
                    F.col("magic"),
                    F.lit("\n"),
                    F.col("w").cast("string"),
                    F.lit(" "),
                    F.col("h").cast("string"),
                    F.lit("\n255\n"),
                ),
                "UTF-8",
            ),
            F.unhex(F.expr("substring(repeat(mh, 7), 1, hexlen)")),
        ),
    )


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (multimodal.py decode_images_df): parse
    Catalyst-synthesized PPM/PGM blobs — header ints, gray->RGB
    expansion — and hash the decoded RGB buffer.  The oracle recomputes
    width/height/pixel_md5 from the same md5-hex arithmetic, so any
    header-parse or pixel-extraction defect hash-mismatches."""
    from sketch_spark.functions.multimodal import decode_images_df

    imgs = _synth_images(spark, sf_dir).select("doc_id", "image")
    return decode_images_df(imgs, "image", "doc_id")


def q_image_decode_resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode + nearest-neighbor resize to 2x2 before hashing (source
    dims reported); the oracle picks the same 4 pixels by the floor
    index map ((out_i*src)//out)."""
    from sketch_spark.functions.multimodal import decode_images_df

    imgs = _synth_images(spark, sf_dir, ppm_only=True).select("doc_id", "image")
    return decode_images_df(imgs, "image", "doc_id", resize_to=(2, 2))


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode end-to-end (multimodal.py _decode_png): blobs
    are PNG-encoded executor-side (zlib deflate, per-row scanline
    filter = doc_id % 5, so all five filters appear in every batch)
    over the same md5-hex raster as image_decode — even doc_ids RGB,
    odd grayscale (expanded 3x on decode) — then decoded back via
    inflate + unfilter + color mapping.  The oracle predicts the
    decoded dims and pixel hash from the md5 arithmetic ALONE (it
    never sees the compressed bytes), so a defect anywhere in the
    deflate/filter/inflate/unfilter pipeline hash-mismatches."""
    import hashlib as _hl
    from typing import Iterator as _It

    import pandas as _pd

    from sketch_spark.functions.multimodal import decode_images_df, encode_png

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def synth(it: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 3 + did % 5, 2 + did % 4
                rgb = did % 2 == 0
                mh = _hl.md5(f"img-{did}".encode()).hexdigest()
                raster = bytes.fromhex((mh * 7)[: (6 if rgb else 2) * w * h])
                blobs.append(
                    encode_png(raster, w, h, filter_type=did % 5, gray=not rgb)
                )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "image": blobs})

    imgs = docs.mapInPandas(synth, "doc_id bigint, image binary")
    return decode_images_df(imgs, "image", "doc_id")


def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode end-to-end (multimodal.py _decode_gif): blobs
    are GIF-encoded executor-side (real LZW; odd doc_ids interlaced so
    the 4-pass deinterlace sits under the hash) with the identity-gray
    256-entry palette (entry i = (i,i,i)) over md5-hex pixel indices,
    then decoded back.  With that palette the decoded RGB is each index
    byte tripled — the same arithmetic the oracle already uses for
    grayscale — so the LZW compress/decompress + deinterlace round trip
    is fully under the value hash while the oracle stays pure SQL.
    (Non-trivial palettes and local color tables are pinned by pytest
    with random palettes instead.)"""
    import hashlib as _hl
    from typing import Iterator as _It

    import pandas as _pd

    from sketch_spark.functions.multimodal import decode_images_df, encode_gif

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    gray_palette = bytes(v for i in range(256) for v in (i, i, i))

    def synth(it: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 3 + did % 5, 2 + did % 4
                mh = _hl.md5(f"img-{did}".encode()).hexdigest()
                idx = bytes.fromhex((mh * 7)[: 2 * w * h])
                blobs.append(
                    encode_gif(idx, w, h, gray_palette, interlace=did % 2 == 1)
                )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "image": blobs})

    imgs = docs.mapInPandas(synth, "doc_id bigint, image binary")
    return decode_images_df(imgs, "image", "doc_id")


def q_image_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-invariant image dedup (multimodal.py
    image_exact_duplicates): every doc's pixels derive from seed =
    doc_id % 260 (260 = lcm(4,5) x 13 keeps the w/h arithmetic aligned
    across copies), but even doc_ids store them as PPM and odd as PNG
    (zlib round trip in the middle) — blob md5 sees distinct bytes,
    decoded-pixel md5 groups them.  The oracle groups by the seed
    arithmetic directly."""
    import hashlib as _hl
    from typing import Iterator as _It

    import pandas as _pd

    from sketch_spark.functions.multimodal import encode_png, image_exact_duplicates

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def synth(it: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                seed = did % 260
                w, h = 3 + seed % 5, 2 + seed % 4
                mh = _hl.md5(f"img-{seed}".encode()).hexdigest()
                raster = bytes.fromhex((mh * 7)[: 6 * w * h])
                if did % 2 == 0:
                    blobs.append(f"P6\n{w} {h}\n255\n".encode() + raster)
                else:
                    blobs.append(encode_png(raster, w, h, filter_type=did % 5))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "image": blobs})

    imgs = docs.mapInPandas(synth, "doc_id bigint, image binary")
    return image_exact_duplicates(imgs, "image", "doc_id")


def q_png_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 PNG variants under the hash (multimodal.py
    _decode_png): doc_id % 3 picks Adam7-interlaced RGB (7-pass
    deinterlace), 16-bit RGB (encoder writes v*257, decoder strips the
    high byte — identity on the hash), or 4-bit grayscale (encoder
    packs quantized v%16, decoder scales by 17).  Filter type still
    cycles doc_id % 5, so every (variant, filter) pair appears.  The
    oracle predicts decoded pixels from the md5-hex arithmetic alone —
    identity for the RGB variants, (v%16)*17 gray-expanded for the
    4-bit one."""
    import hashlib as _hl
    from typing import Iterator as _It

    import numpy as _np
    import pandas as _pd

    from sketch_spark.functions.multimodal import decode_images_df, encode_png

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def synth(it: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 3 + did % 5, 2 + did % 4
                mh = _hl.md5(f"pv-{did}".encode()).hexdigest()
                variant = did % 3
                if variant == 0:
                    raster = bytes.fromhex((mh * 7)[: 6 * w * h])
                    blobs.append(
                        encode_png(raster, w, h, filter_type=did % 5, interlace=True)
                    )
                elif variant == 1:
                    raster = bytes.fromhex((mh * 7)[: 6 * w * h])
                    blobs.append(
                        encode_png(raster, w, h, filter_type=did % 5, bit_depth=16)
                    )
                else:
                    gray = bytes.fromhex((mh * 7)[: 2 * w * h])
                    q = (_np.frombuffer(gray, _np.uint8) % 16).astype(_np.uint8)
                    blobs.append(
                        encode_png(
                            q.tobytes(), w, h, filter_type=did % 5, gray=True,
                            bit_depth=4, interlace=did % 2 == 0,
                        )
                    )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "image": blobs})

    imgs = docs.mapInPandas(synth, "doc_id bigint, image binary")
    return decode_images_df(imgs, "image", "doc_id")


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode end-to-end (jpegcodec.py): grayscale
    images of solid 8x8 tiles (1-2 blocks per axis, tile values from
    md5-hex) are JPEG-encoded executor-side — real Annex K Huffman
    coding, byte stuffing, zigzag, restart markers on doc_id % 3 == 0
    — then decoded back through the marker walk + Huffman + dequant +
    IDCT.  JPEG is lossy, but the codec keeps the solid-tile DC path
    in exact integer arithmetic (see jpegcodec.py docstring), so the
    oracle predicts every DECODED pixel as clamp(2 * round_half_away(
    (v-128)/2) + 128) — the quantization really ran, and its output
    sits under the value hash."""
    import hashlib as _hl
    from typing import Iterator as _It

    import numpy as _np
    import pandas as _pd

    from sketch_spark.functions.jpegcodec import encode_jpeg
    from sketch_spark.functions.multimodal import decode_images_df

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def synth(it: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                bw, bh = 1 + did % 2, 1 + (did // 2) % 2
                mh = _hl.md5(f"jpg-{did}".encode()).hexdigest()
                vals = _np.array(
                    [int(mh[2 * k : 2 * k + 2], 16) for k in range(bw * bh)]
                ).reshape(bh, bw)
                img = _np.repeat(_np.repeat(vals, 8, 0), 8, 1).astype(_np.uint8)
                blobs.append(
                    encode_jpeg(
                        img.tobytes(), 8 * bw, 8 * bh, gray=True,
                        restart_interval=1 if did % 3 == 0 else 0,
                    )
                )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "image": blobs})

    imgs = docs.mapInPandas(synth, "doc_id bigint, image binary")
    return decode_images_df(imgs, "image", "doc_id")


def q_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG decode end-to-end (jpegcodec.py SOF2
    path): the same solid-tile construction as ``jpeg_decode`` (tile
    values from md5-hex, fresh salt) but emitted through the full
    progressive script — interleaved DC first + refinement, AC
    spectral bands successively approximated from Al=2 down to 0, EOB
    runs, restart markers on doc_id % 3 == 0.  The quantized
    coefficients are identical to the baseline encoding, so the same
    exact-integer DC oracle predicts every decoded pixel — spectral
    selection, successive approximation, and EOB-run decode all sit
    under the value hash."""
    import hashlib as _hl
    from typing import Iterator as _It

    import numpy as _np
    import pandas as _pd

    from sketch_spark.functions.jpegcodec import encode_jpeg
    from sketch_spark.functions.multimodal import decode_images_df

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def synth(it: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                bw, bh = 1 + did % 2, 1 + (did // 2) % 2
                mh = _hl.md5(f"jpgp-{did}".encode()).hexdigest()
                vals = _np.array(
                    [int(mh[2 * k : 2 * k + 2], 16) for k in range(bw * bh)]
                ).reshape(bh, bw)
                img = _np.repeat(_np.repeat(vals, 8, 0), 8, 1).astype(_np.uint8)
                blobs.append(
                    encode_jpeg(
                        img.tobytes(), 8 * bw, 8 * bh, gray=True,
                        progressive=True,
                        restart_interval=1 if did % 3 == 0 else 0,
                    )
                )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "image": blobs})

    imgs = docs.mapInPandas(synth, "doc_id bigint, image binary")
    return decode_images_df(imgs, "image", "doc_id")


def q_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF text extraction (pdftext.py decode_pdf): each doc's
    text is paginated into 40-char pages (1 + doc_id % 3 of them),
    encoded executor-side into a complete PDF — catalog, page tree,
    font, per-page content streams, xref — with /FlateDecode (real
    zlib) on even doc_ids and raw streams on odd.  The engine then
    walks the object graph, inflates (bomb-capped), and parses the
    text-showing operators; the oracle re-derives the pages from the
    same substring arithmetic, so the whole literal-string escape +
    deflate round trip sits under the value hash."""
    from typing import Iterator as _It

    import pandas as _pd

    from sketch_spark.functions.pdftext import encode_pdf, pdf_text_df

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")

    def synth(it: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in it:
            blobs = []
            for did, tx in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                tx = tx or ""
                n = 1 + did % 3
                pages = [tx[40 * k : 40 * k + 40] for k in range(n)]
                blobs.append(encode_pdf(pages, compress=did % 2 == 0))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "doc": blobs})

    pdfs = docs.mapInPandas(synth, "doc_id bigint, doc binary")
    return pdf_text_df(pdfs, "doc", "doc_id")


def q_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL image near-dup pairs (multimodal.py
    image_near_duplicates): every doc renders pixels from seed =
    doc_id % 151 in one of three forms — the original PPM (form 0), a
    2x nearest-neighbor-upscaled PNG twin (form 1: floor maps nest, so
    its 8x8 aHash is IDENTICAL — the resized-thumbnail crawl case
    exact pixel dedup misses), or a posterized re-quantization
    (form 2: v -> v//4*4, flipping only knife-edge bits).  The engine
    really decodes PPM/PNG, signs, bands, bucket-joins, and
    Hamming-verifies; the oracle recomputes every signature from the
    md5-hex arithmetic and mirrors the banded join (bucket cap
    included) and the bit_count verify in pure SQL."""
    import hashlib as _hl
    from typing import Iterator as _It

    import numpy as _np
    import pandas as _pd

    from sketch_spark.functions.multimodal import (
        encode_png,
        image_near_duplicates,
        resize_rgb,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def synth(it: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                seed, form = did % 151, did % 3
                w, h = 8 + seed % 5, 8 + seed % 3
                mh = _hl.md5(f"nd-{seed}".encode()).hexdigest()
                raster = bytes.fromhex((mh * 23)[: 6 * w * h])
                if form == 0:
                    blobs.append(f"P6\n{w} {h}\n255\n".encode() + raster)
                elif form == 1:
                    up = resize_rgb(raster, w, h, 2 * w, 2 * h)
                    blobs.append(encode_png(up, 2 * w, 2 * h, filter_type=seed % 5))
                else:
                    post = (
                        ((_np.frombuffer(raster, _np.uint8) // 4) * 4)
                        .astype(_np.uint8)
                        .tobytes()
                    )
                    blobs.append(f"P6\n{w} {h}\n255\n".encode() + post)
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "image": blobs})

    imgs = docs.mapInPandas(synth, "doc_id bigint, image binary")
    return image_near_duplicates(imgs, "image", "doc_id", max_hamming=6)


def q_video_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-level video dedup from SAMPLED frames (multimodal.py
    video_duplicates): clip content derives from seed = doc_id % 97
    (2 + seed % 3 frames of md5-hex pixels) but each doc muxes it at
    its own frame rate (fps = 10 + 5 * (doc_id % 4)) — container bytes
    differ per copy, the sampled-frame signature groups them.  With
    sample_frames=2 the even-spread rule (idx_j = j*n//2) actually
    bites on 3- and 4-frame clips, and the RIFF walk converts ONLY the
    sampled frames (lazy byte offsets).  The oracle predicts each
    sampled frame's hash from the md5 arithmetic and rebuilds the same
    clip signature in SQL."""
    import hashlib as _hl
    from typing import Iterator as _It

    import pandas as _pd

    from sketch_spark.functions.multimodal import encode_avi, video_duplicates

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def synth(it: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                seed = did % 97
                w, h = 3 + seed % 5, 2 + seed % 4
                frames = [
                    bytes.fromhex(
                        (_hl.md5(f"vid-{seed}-{k}".encode()).hexdigest() * 7)[
                            : 6 * w * h
                        ]
                    )
                    for k in range(2 + seed % 3)
                ]
                blobs.append(encode_avi(frames, w, h, fps=10 + 5 * (did % 4)))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "video": blobs})

    vids = docs.mapInPandas(synth, "doc_id bigint, video binary")
    return video_duplicates(vids, "video", "doc_id", sample_frames=2)


def q_audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL audio near-dup pairs (multimodal.py
    audio_near_duplicates), completing the multimodal near-dup trio:
    every doc renders a 16-bit PCM clip from seed = doc_id % 151 in
    one of three forms — the original (form 0: sample i = (byte_i -
    128) * 16 of the md5-hex stream), a 2x sample-repeated re-rate
    (form 1: floor maps nest, so its energy-envelope signature is
    IDENTICAL — the naive-upsample crawl case decoded-sample exact
    dedup misses), or a dithered re-quantization (form 2: (byte//2 -
    64) * 32, flipping only knife-edge bits).  The engine really
    parses the WAV containers, normalizes widths, signs, bands,
    bucket-joins, and Hamming-verifies; the oracle recomputes every
    signature from the md5-hex arithmetic and mirrors the banded join
    (bucket cap included) and the bit_count verify in pure SQL."""
    import hashlib as _hl
    import struct as _s
    from typing import Iterator as _It

    import pandas as _pd

    from sketch_spark.functions.multimodal import audio_near_duplicates

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def synth(it: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                seed, form = did % 151, did % 3
                n = 96 + seed % 33
                bs = bytes.fromhex(
                    (_hl.md5(f"aud-{seed}".encode()).hexdigest() * 8)[: 2 * n]
                )
                if form == 1:
                    vals = [(b - 128) * 16 for b in bs for _ in (0, 1)]
                elif form == 2:
                    vals = [(b // 2 - 64) * 32 for b in bs]
                else:
                    vals = [(b - 128) * 16 for b in bs]
                data = b"".join(_s.pack("<h", v) for v in vals)
                fmt = _s.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
                blobs.append(
                    b"RIFF"
                    + _s.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                    + b"WAVE"
                    + b"fmt "
                    + _s.pack("<I", len(fmt))
                    + fmt
                    + b"data"
                    + _s.pack("<I", len(data))
                    + data
                )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "audio": blobs})

    auds = docs.mapInPandas(synth, "doc_id bigint, audio binary")
    return audio_near_duplicates(auds, "audio", "doc_id")


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (operators/graph.py) over a deterministic
    synthetic link graph: 3 out-links per document, dst =
    md5(doc_id:j)[:8] as int mod n_docs — the md5-hex-source pattern,
    so the DuckDB oracle regenerates the identical graph and replays
    the identical BIGINT power iteration (unrolled 6 rounds).  Every
    arithmetic step is integer multiply / floor division: ranks are
    bit-identical across engines, partitionings, and merge orders."""
    from sketch_spark.operators.graph import pagerank_fixed_point

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return pagerank_fixed_point(_synthetic_link_edges(docs), n_iter=6)


def _synthetic_link_edges(docs: DataFrame) -> DataFrame:
    """3 deterministic out-links per document: dst = md5(doc_id:j)[:8]
    as int mod n_docs — regenerable bit-for-bit in DuckDB."""
    n_docs = docs.count()
    return docs.select(
        "doc_id", F.explode(F.array(*[F.lit(i) for i in range(3)])).alias("j")
    ).select(
        F.col("doc_id").alias("src"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("doc_id").cast("string"),
                            F.col("j").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.lit(n_docs)
        ).alias("dst"),
    )


def q_link_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (operators/graph.py hits_fixed_point) over
    the same md5-synthesized 3-out-link graph as link_pagerank: the
    float L2 normalization is replaced by an integer rescale (score DIV
    (1 + max DIV unit)), so the whole alternating recurrence is BIGINT
    arithmetic the DuckDB oracle replays exactly, scalar-subquery
    maxima included."""
    from sketch_spark.operators.graph import hits_fixed_point

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return hits_fixed_point(_synthetic_link_edges(docs), n_iter=5)


def _hits_oracle_sql(n_iter: int = 5, unit: int = 10**9) -> str:
    """DuckDB twin of q_link_hits: same synthetic graph, same integer
    rescale recurrence, iterations unrolled."""
    chain = ""
    prev_h = "h0"
    for i in range(1, n_iter + 1):
        chain += f""",
        a{i}_raw AS MATERIALIZED (
            SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS v
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, CAST(SUM(h.v) AS BIGINT) AS v
                FROM edges e JOIN {prev_h} h ON h.node = e.src
                GROUP BY e.dst
            ) s ON s.node = n.node
        ),
        a{i} AS MATERIALIZED (
            SELECT node,
                   v // (1 + (SELECT MAX(v) FROM a{i}_raw) // {unit}) AS v
            FROM a{i}_raw
        ),
        h{i}_raw AS MATERIALIZED (
            SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS v
            FROM nodes n LEFT JOIN (
                SELECT e.src AS node, CAST(SUM(a.v) AS BIGINT) AS v
                FROM edges e JOIN a{i} a ON a.node = e.dst
                GROUP BY e.src
            ) s ON s.node = n.node
        ),
        h{i} AS MATERIALIZED (
            SELECT node,
                   v // (1 + (SELECT MAX(v) FROM h{i}_raw) // {unit}) AS v
            FROM h{i}_raw
        )"""
        prev_h = f"h{i}"
    return f"""
        WITH ndocs AS (SELECT COUNT(*) AS cnt FROM documents),
        edges AS MATERIALIZED (
            SELECT doc_id AS src,
                   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
                   % (SELECT cnt FROM ndocs) AS dst
            FROM documents, (SELECT UNNEST(generate_series(0, 2)) AS j)
        ),
        nodes AS MATERIALIZED (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
            )
        ),
        h0 AS (SELECT node, CAST({unit} AS BIGINT) AS v FROM nodes){chain}
        SELECT n.node,
               CAST(a.v AS BIGINT) AS authority_units,
               CAST(h.v AS BIGINT) AS hub_units
        FROM nodes n
        JOIN a{n_iter} a ON a.node = n.node
        JOIN {prev_h} h ON h.node = n.node
    """


def q_trust_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (Gyongyi et al., VLDB 2004): PageRank with the
    teleport term personalized to a trusted seed set — here every 16th
    document — so authority only flows out of the seed neighborhood and
    link-farm islands starve.  Same synthetic md5 graph and BIGINT
    recurrence as link_pagerank; the oracle swaps the uniform teleport
    CASE for the seed predicate."""
    from sketch_spark.operators.graph import pagerank_fixed_point

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    seeds = docs.filter(F.col("doc_id") % 16 == 0)
    return pagerank_fixed_point(
        _synthetic_link_edges(docs), n_iter=6, teleport=seeds
    )


def _pagerank_oracle_sql(
    n_iter: int = 6,
    damping: int = 85,
    unit: int = 10**12,
    seed_tmpl: str = "TRUE",
) -> str:
    """DuckDB twin of q_link_pagerank / q_trust_rank: same synthetic
    graph, same BIGINT recurrence, iterations unrolled (aggregates are
    not legal in a recursive CTE's recursive term).  ``seed_tmpl`` is a
    SQL boolean over the teleport-seed membership of node column ``{c}``
    ("TRUE" = uniform teleport = classic PageRank)."""
    chain = ""
    prev = "r0"
    for i in range(1, n_iter + 1):
        seed_n = seed_tmpl.format(c="n.node")
        chain += f""",
        i{i} AS (
            SELECT n.node,
                   CASE WHEN {seed_n}
                        THEN (SELECT CAST((100 - {damping}) * ({unit} // cnt) // 100 AS BIGINT) FROM nseeds)
                        ELSE 0 END
                   + CAST({damping} * COALESCE(inf.s, 0) // 100 AS BIGINT) AS rank_units
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, CAST(SUM(r.rank_units // o.od) AS BIGINT) AS s
                FROM edges e
                JOIN {prev} r ON r.node = e.src
                JOIN outdeg o ON o.src = e.src
                GROUP BY e.dst
            ) inf ON inf.node = n.node
        )"""
        prev = f"i{i}"
    seed_node = seed_tmpl.format(c="node")
    return f"""
        WITH ndocs AS (SELECT COUNT(*) AS cnt FROM documents),
        edges AS (
            SELECT doc_id AS src,
                   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
                   % (SELECT cnt FROM ndocs) AS dst
            FROM documents, (SELECT UNNEST(generate_series(0, 2)) AS j)
        ),
        nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
            )
        ),
        nseeds AS (SELECT COUNT(*) AS cnt FROM nodes WHERE {seed_node}),
        outdeg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
        r0 AS (
            SELECT node,
                   CASE WHEN {seed_node}
                        THEN (SELECT CAST({unit} // cnt AS BIGINT) FROM nseeds)
                        ELSE 0 END AS rank_units
            FROM nodes
        ){chain}
        SELECT node, rank_units FROM {prev}
    """


def q_luma_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus brightness distribution (multimodal.py
    corpus_luma_histogram) over the mixed PPM/PGM blobs — the first
    multimodal query WITH aggregation: per-batch numpy partial
    histograms, then an 8-key shuffle, exact BIGINT counts.  The
    oracle unnests the same md5-hex pixel stream and groups by the
    identical integer bin arithmetic."""
    from sketch_spark.functions.multimodal import corpus_luma_histogram

    imgs = _synth_images(spark, sf_dir).select("doc_id", "image")
    return corpus_luma_histogram(imgs, "image", "doc_id", bins=8).orderBy("bin")


def q_streaming_luma_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal x Structured Streaming: documents arrive as a file
    stream, each micro-batch synthesizes and REALLY decodes its image
    blobs (mapInPandas runs unchanged on streams), and the integer
    luma-bin counts aggregate in complete mode across epochs.  The
    final snapshot must hash-match the BATCH luma_histogram oracle —
    integer partial histograms merge associatively, so streaming ==
    batch exactly, under the driver's value-hash gate."""
    import hashlib as _hl
    from typing import Iterator as _It

    import pandas as _pd

    from sketch_spark.functions.multimodal import corpus_luma_histogram

    base, in_dir, schema = _stream_input(spark, sf_dir, "luma")
    out_dir = os.path.join(base, "out")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(in_dir)
    ).select("doc_id")

    def synth(it: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 3 + did % 5, 2 + did % 4
                mh = _hl.md5(f"img-{did}".encode()).hexdigest()
                if did % 2 == 0:
                    blobs.append(
                        f"P6\n{w} {h}\n255\n".encode()
                        + bytes.fromhex((mh * 7)[: 6 * w * h])
                    )
                else:
                    blobs.append(
                        f"P5\n{w} {h}\n255\n".encode()
                        + bytes.fromhex((mh * 7)[: 2 * w * h])
                    )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "image": blobs})

    imgs = stream.mapInPandas(synth, "doc_id bigint, image binary")
    agg = corpus_luma_histogram(imgs, "image", "doc_id", bins=8)

    def snap(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = (
        agg.writeStream.foreachBatch(snap)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).orderBy("bin")


def q_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame extraction (multimodal.py decode_avi_frames):
    uncompressed-DIB AVI containers are built executor-side (RIFF
    hdrl/movi structure, bottom-up BGR stride-padded frames) with
    1 + doc_id % 3 frames of md5-hex pixels, then parsed back — the
    container walk, header parse, stride strip, and BGR/row-order
    undo all sit under the hash.  The oracle predicts every frame's
    RGB hash from the md5 arithmetic alone, one row per frame."""
    import hashlib as _hl
    from typing import Iterator as _It

    import pandas as _pd

    from sketch_spark.functions.multimodal import decode_avi_frames_df, encode_avi

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def synth(it: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 3 + did % 5, 2 + did % 4
                frames = [
                    bytes.fromhex(
                        (_hl.md5(f"img-{did}-{k}".encode()).hexdigest() * 7)[: 6 * w * h]
                    )
                    for k in range(1 + did % 3)
                ]
                blobs.append(encode_avi(frames, w, h))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "video": blobs})

    vids = docs.mapInPandas(synth, "doc_id bigint, video binary")
    return decode_avi_frames_df(vids, "video", "doc_id")


def _wav_fmt_hex(channels: int, rate: int, width: int = 2) -> str:
    import struct as _s

    return (
        b"fmt "
        + _s.pack(
            "<IHHIIHH",
            16, 1, channels, rate,
            rate * channels * width, channels * width, width * 8,
        )
    ).hex()


def _synth_wavs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst-synthesized PCM wav blobs — mono 8kHz for even doc_ids,
    stereo 44.1kHz for odd, sample width 1 + doc_id % 4 bytes (so all
    of 8/16/24/32-bit PCM appear in every batch, and the 24-bit clips
    carry orphan trailing bytes since the 16..32-byte payload isn't a
    multiple of 3), payload from the md5-hex stream — so SQL oracles
    can reproduce every parsed field and the payload."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    df = docs.withColumns(
        {
            "nb": (F.lit(16) + (F.col("doc_id") % 9) * 2).cast("int"),
            "mh": F.md5(F.concat(F.lit("wav-"), F.col("doc_id").cast("string"))),
            "wmod": F.col("doc_id") % 4,
        }
    )
    fmt_hex = (
        F.when(F.col("wmod") == 0, _wav_fmt_hex(1, 8000, 1))
        .when(F.col("wmod") == 1, _wav_fmt_hex(2, 44100, 2))
        .when(F.col("wmod") == 2, _wav_fmt_hex(1, 8000, 3))
        .otherwise(F.lit(_wav_fmt_hex(2, 44100, 4)))
    )
    blob_hex = F.concat(
        F.lit("52494646"),  # RIFF
        F.lpad(F.lower(F.hex(F.lit(36) + F.col("nb"))), 2, "0"),
        F.lit("000000"),  # riff size fits one byte at this scale
        F.lit("57415645"),  # WAVE
        fmt_hex,
        F.lit("64617461"),  # data
        F.lpad(F.lower(F.hex(F.col("nb"))), 2, "0"),
        F.lit("000000"),
        F.expr("substring(repeat(mh, 2), 1, nb * 2)"),
    )
    return df.select("doc_id", F.unhex(blob_hex).alias("audio"))


def q_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM WAV decode (multimodal.py decode_wav): RIFF chunk walk
    over Catalyst-synthesized wav blobs (see _synth_wavs).  The oracle
    recomputes every parsed field + the payload hash."""
    from sketch_spark.functions.multimodal import decode_wavs_df

    return decode_wavs_df(_synth_wavs(spark, sf_dir), "audio", "doc_id")


def q_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PCM clip features (multimodal.py wav_features_df)
    over mixed 8/16/24/32-bit clips, every width normalized to the
    common 16-bit scale: sum of squared samples (BIGINT), peak
    |sample|, and sign-flip count — the silence/clipping gate for
    audio corpora.  The oracle rebuilds the little-endian signed
    samples from the md5-hex stream per width (floor-division by a
    power of two is exact in doubles, so even the 24/32-bit shifts
    carry no float drift) and sums the identical integers."""
    from sketch_spark.functions.multimodal import wav_features_df

    return wav_features_df(_synth_wavs(spark, sf_dir), "audio", "doc_id")


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact per-image channel stats (multimodal.py
    image_stats_df) over the mixed PPM/PGM blobs: per-channel BIGINT
    sums and min/max integer luma (r+g+b) from the DECODED buffer —
    the brightness/blank-thumbnail gate.  The oracle recomputes every
    sum from the md5-hex raster arithmetic."""
    from sketch_spark.functions.multimodal import image_stats_df

    imgs = _synth_images(spark, sf_dir).select("doc_id", "image")
    return image_stats_df(imgs, "image", "doc_id")


# ---------------------------------------------------------------------------
# events: windowed / stateful surface
# ---------------------------------------------------------------------------
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly windowed rollup of the events stream (count + summed
    value per event type)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type — ground truth for the
    approximate distinct-count family."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap splits a user's sessions."""
    ev = _read(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        (
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800)
        ).cast("int"),
    )
    return gaps.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def q_events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 users by summed value per event type (partitioned
    window rank, deterministic tie-break)."""
    ev = _read(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 2).alias("total_value")
    )
    w = W.partitionBy("event_type").orderBy(F.desc("total_value"), F.asc("user_id"))
    return (
        per_user.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "rank", "user_id", "total_value")
    )


# ---------------------------------------------------------------------------
# TPC-H style relational surface
# ---------------------------------------------------------------------------
def q_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially decayed top-10 users per event type (half-life
    2 days at anchor 2024-01-31) — the time-aware generalization of the
    reference's growth-scaled history (sketch.cpp:179-183).  Weights
    are dyadic 2^e with integer exponents, so the decayed counts are
    EXACT integer sums (order-independent, bit-identical cross-engine)
    and the whole ranking sits under the value-hash gate with no float
    knife-edge anywhere."""
    from sketch_spark.operators.decay import decayed_topk

    ev = _read(spark, sf_dir, "events")
    return decayed_topk(
        ev, ["user_id"], ["event_type"], k=10,
        anchor="2024-01-31", half_life=2, max_exp=15,
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the relational-aggregation yardstick
    (pushdown + partial aggregation, PLANS.md §3)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-table star join (all four dimensions broadcast, PLANS.md
    §4) rolled up to revenue per region."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact price percentiles — ground truth for the KLL/t-digest
    quantile-sketch queries."""
    li = _read(spark, sf_dir, "lineitem")
    return li.select(
        F.round(F.expr("percentile(l_extendedprice, 0.1)"), 4).alias("p10"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
    )


def q_tpch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation-grid coverage: ROLLUP over (returnflag, linestatus)
    with NULL grouping keys made explicit for order-insensitive compare."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_price",
        )
    )


def q_bigram_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation coverage: distinct bigrams of src0 docs minus
    distinct bigrams of src1 docs (EXCEPT)."""
    from sketch_spark.functions.text import word_ngrams_col

    docs = _read(spark, sf_dir, "documents")
    a = (
        docs.filter(F.col("source") == "src0")
        .select(F.explode(word_ngrams_col("text", 2)).alias("bigram"))
        .distinct()
    )
    b = (
        docs.filter(F.col("source") == "src1")
        .select(F.explode(word_ngrams_col("text", 2)).alias("bigram"))
        .distinct()
    )
    return a.exceptAll(b.distinct()).distinct()


def q_events_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot coverage: day x event_type count matrix (explicit values
    so the Spark and SQL column sets match deterministically)."""
    ev = _read(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


# ---------------------------------------------------------------------------
# sketch estimates (deterministic; not SQL-expressible -> rows-only)
# ---------------------------------------------------------------------------
def q_cmcu_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CountMin-CU frequency estimates for the exact-count>=200
    candidates (rows-only: never-underestimate + (eps, delta) bound
    pinned in pytests and the bench bound report)."""
    from sketch_spark.operators.aggregate import SketchSpec, sketch_aggregate
    from sketch_spark.operators.emerging import broadcast_sketch, candidate_token_counts, estimate_tokens_udf

    docs = _read(spark, sf_dir, "documents")
    spec = SketchSpec(
        "cmcu", "cmcu", "text", mode="tokens",
        params={"depth": 4, "log2_width": 14, "seed": 1},
    )
    sketch = sketch_aggregate(docs, [spec]).sketch("cmcu")
    bc = broadcast_sketch(spark, sketch)
    cand = candidate_token_counts(docs, "text", bc, threshold=200)
    return cand.select(
        "token", estimate_tokens_udf(bc)(F.col("token")).alias("est")
    )


def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries frequent items, exact-verified: every token with
    cnt*(k+1) > N.  The MG summary (deterministic presence guarantee)
    prunes candidates; one map-side-combined pass counts them exactly,
    so the answer is integer-exact and SQL-oracled."""
    from sketch_spark.operators.frequent import frequent_tokens_exact

    docs = _read(spark, sf_dir, "documents")
    return frequent_tokens_exact(docs, "text", k=200)


def q_countsketch_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Sketch (signed, unbiased) point estimates for the exact
    >=200-count tokens — the two-sided companion of cmcu_estimates;
    error bound |est-true| <= 3*sqrt(F2/w) asserted in
    tests/test_frequent.py."""
    from sketch_spark.operators.aggregate import SketchSpec, sketch_aggregate
    from sketch_spark.operators.emerging import broadcast_sketch, estimate_tokens_udf

    docs = _read(spark, sf_dir, "documents")
    spec = SketchSpec(
        "cs", "cs", "text", mode="tokens",
        params={"depth": 5, "log2_width": 14, "seed": 1},
    )
    sketch = sketch_aggregate(docs, [spec]).sketch("cs")
    bc = broadcast_sketch(spark, sketch)
    heavy = (
        _tokens(docs)
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 200)
        .select(F.col("tok").alias("token"))
    )
    return heavy.select("token", estimate_tokens_udf(bc)(F.col("token")).alias("est"))


def q_hll_distinct_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang HLL distinct tokens with a FULLY executor-side plan:
    build partials -> tree merge -> estimate extraction as a pandas UDF
    over the merged state rows — no driver collect anywhere (closes the
    round-1 watch item about local-relation result construction)."""
    from sketch_spark.operators.aggregate import (
        SketchSpec,
        build_partials,
        merge_partials,
        state_estimate_col,
    )

    docs = _read(spark, sf_dir, "documents")
    spec = SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 14, "seed": 1})
    merged = merge_partials(build_partials(docs, [spec], ["lang"]), ["lang"])
    return merged.select(
        "lang",
        F.round(state_estimate_col()(F.col("state"))).cast("long").alias("est_distinct"),
    )


def q_kll_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL price quantiles with a FULLY executor-side plan (VERDICT r2
    #3): build partials -> tree merge -> ``state_quantiles_col`` over
    the merged state row, posexploded to (q, est) — no collect(), no
    createDataFrame."""
    from sketch_spark.operators.aggregate import (
        SketchSpec,
        build_partials,
        merge_partials,
        quantile_rows,
    )

    li = _read(spark, sf_dir, "lineitem")
    spec = SketchSpec(
        "kll", "kll", "l_extendedprice", mode="numeric", params={"k": 200, "seed": 1}
    )
    merged = merge_partials(build_partials(li, [spec]))
    return quantile_rows(merged, "kll", [0.1, 0.25, 0.5, 0.75, 0.9, 0.99])


def q_tdigest_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest event-value quantiles, executor-side like
    q_kll_price_quantiles."""
    from sketch_spark.operators.aggregate import (
        SketchSpec,
        build_partials,
        merge_partials,
        quantile_rows,
    )

    ev = _read(spark, sf_dir, "events")
    spec = SketchSpec("td", "tdigest", "value", mode="numeric", params={"delta": 200})
    merged = merge_partials(build_partials(ev, [spec]))
    return quantile_rows(merged, "td", [0.01, 0.1, 0.5, 0.9, 0.99])


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership probes, executor-side via
    ``state_contains_col`` (no driver-built local relation)."""
    from sketch_spark.operators.aggregate import (
        SketchSpec,
        build_partials,
        merge_partials,
        membership_rows,
    )

    docs = _read(spark, sf_dir, "documents")
    spec = SketchSpec(
        "bloom", "bloom", "text", mode="tokens",
        params={"log2_bits": 20, "k": 5, "seed": 1},
    )
    merged = merge_partials(build_partials(docs, [spec]))
    probes = ["scan", "window", "column", "zzz_not_a_token", "qqq_missing", "the"]
    return membership_rows(merged, "bloom", probes)


# ---------------------------------------------------------------------------
# dedup / similarity surface
# ---------------------------------------------------------------------------
def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: signatures carry no shingle arrays
    and verification re-reads text for the candidates only — and the
    pairs still hash-match the exact all-pairs Jaccard oracle."""
    from sketch_spark.operators.dedup import minhash_near_duplicates

    docs = _read(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, "doc_id", "text", num_perm=64, bands=16, shingle_k=3, threshold=0.4,
        seed=1,
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (xxhash bit votes;
    rows-only — the md5-vote variant simhash_md5 is the hash-green
    row; deterministic equality pinned in pytest)."""
    from sketch_spark.operators.dedup import simhash

    docs = _read(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", seed=1)


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SimHash near-dup pairs (banded candidates + exact
    full-64-bit Hamming verify, JVM bit_count) — rows-only; exactness
    vs brute force is pinned in tests/test_round2_fixes.py."""
    from sketch_spark.operators.dedup import simhash_near_duplicates

    docs = _read(spark, sf_dir, "documents")
    return simhash_near_duplicates(docs, "doc_id", "text", max_hamming=3, seed=1)


def q_top_df_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven stopword discovery: top-50 tokens by document
    frequency (ties broken by token asc — deterministic cut).  This is
    the string-space face of the SimHash head-drop knob
    (top_df_token_hashes); at scale it is one distinct-explode +
    groupBy + a 50-row TakeOrdered."""
    from sketch_spark.functions.text import document_frequencies

    docs = _read(spark, sf_dir, "documents")
    return (
        document_frequencies(docs)
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(50)
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc keyword extraction: top-3 terms by tf-idf
    (tf x ln(N/df), rounded; ties by token asc) for doc_id < 200.
    tf/df/N computed over the FULL corpus; only the reported docs are
    restricted.  Shuffles: token groupBys (vocab-scale) + one window
    partitioned by doc_id (row_number<=3)."""
    docs = _read(spark, sf_dir, "documents")
    n_docs = docs.count()
    tf = (
        _tokens(docs, ["doc_id"])
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    from sketch_spark.functions.text import document_frequencies

    dfreq = document_frequencies(docs).withColumnRenamed("token", "tok")
    scored = (
        tf.join(dfreq, "tok")
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
        )
        .filter(F.col("doc_id") < 200)
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", F.col("tok").alias("token"), "tfidf", "rank")
    )


def q_hll_lang_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra: pairwise distinct-token overlap between
    languages via HLL merge (|A∪B| = one register-max merge;
    |A∩B| by inclusion-exclusion) — executor-side over merged state
    rows.  Rows-only (estimates); the error bound vs exact intersections
    is asserted in pytest (tests/test_round3_fixes.py)."""
    from sketch_spark.operators.aggregate import distinct_overlap_estimates

    docs = _read(spark, sf_dir, "documents")
    return distinct_overlap_estimates(docs, "lang", "text", p=14, seed=1)


def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment as a map-only
    projection over an md5-derived U[0,1) of (seed, doc_id) — stable
    under repartition/re-execution (seeded rand() is NOT), and
    reproducible in DuckDB for the hash gate."""
    from sketch_spark.operators.sampling import deterministic_split

    docs = _read(spark, sf_dir, "documents")
    return deterministic_split(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05}, "doc_id", seed=1
    ).select("doc_id", "split")


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware split: near-duplicate clusters (same exact-Jaccard
    fixture property as dedup_corpus) land wholly in one split, so no
    eval document is a near-copy of a training document.  The oracle
    replays components via the recursive CTE and the split via the
    same md5-of-cluster rank — (doc_id, cluster, split) all under the
    value hash."""
    from sketch_spark.operators.sampling import leakage_safe_split

    docs = _read(spark, sf_dir, "documents")
    return leakage_safe_split(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05},
        threshold=0.4,
    ).select("doc_id", "cluster", "split")


def q_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-doc sample per source (md5-rank window; with AQE
    the WindowGroupLimit folds per-partition top-k before the exchange,
    so the shuffle carries <= k rows/group/partition)."""
    from sketch_spark.operators.sampling import sample_per_group

    docs = _read(spark, sf_dir, "documents")
    return sample_per_group(docs, ["source"], 3, "doc_id", seed=1).select(
        "source", "doc_id", "sample_rank"
    )


def q_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global 20-doc uniform sample (smallest md5 ranks).
    Plans as TakeOrderedAndProject: per-partition local k, no global
    sort — the corpus-scale-safe way to pull a fixed-size sample."""
    from sketch_spark.operators.sampling import bottomk_sample

    docs = _read(spark, sf_dir, "documents")
    return bottomk_sample(docs, 20, "doc_id", seed=1).select(
        "doc_id", "lang", "source"
    )


def q_kmv_distinct_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct-token estimate per language — the one
    sketch estimator whose VALUE is hash-oracle-checkable (pure
    function of md5), alongside the rows-only HLL path over the same
    question (q_hll_distinct_by_lang)."""
    from sketch_spark.operators.sampling import kmv_distinct

    docs = _read(spark, sf_dir, "documents")
    return kmv_distinct(_tokens(docs, ["lang"]), "tok", ["lang"], k=256, seed=1)


def q_kmv_lang_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise KMV token-set similarity between languages — the
    set-ALGEBRA estimator whose values are pure md5 functions, so the
    driver hash-checks the estimates themselves (the oracled companion
    to the rows-only HLL inclusion-exclusion path)."""
    from sketch_spark.operators.sampling import kmv_set_similarity

    docs = _read(spark, sf_dir, "documents")
    return kmv_set_similarity(_tokens(docs, ["lang"]), "tok", "lang", k=256, seed=1)


def q_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-expressible SimHash (VERDICT r2 #10): same algorithm as the
    fast custom-hash path but with md5-derived bit votes DuckDB can
    reproduce exactly — gives the simhash family a hash-green oracle
    row while q_simhash stays on the production hash (rows-only)."""
    from sketch_spark.functions.text import simhash_md5_col

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash_md5_col("text").alias("simhash48"))


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard for doc pairs (doc_id < 100) with
    J >= 0.9 — fully SQL-expressible n-gram dedup oracle (n=1; the
    3-shingle variant backs minhash_near_dups, verified in pytest)."""

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_col("text"))).alias("shingle"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= 0.9)
        .select("id_a", "id_b", "jaccard")
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k baseline: broadcast queries, blocked
    gemm per partition, partition-local top-k (shuffle <= P*Q*k)."""
    from sketch_spark.operators.similarity import cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 5).collect()
    queries = {int(r["vec_id"]): r["embedding"] for r in qrows}
    corpus = emb.filter(F.col("vec_id") >= 10)
    return cosine_topk(corpus, queries, k=5, id_col="vec_id", vec_col="embedding")


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the blocked block-pair
    self-join (exact, no driver collect, no corpus broadcast)."""
    # blocked strategy: exact all-pairs with NO driver collect / corpus
    # broadcast — the block-pair self-join is the 100TB-safe plan and is
    # exact, so the DuckDB all-pairs oracle stays hash-green at any sf
    from sketch_spark.operators.similarity import exact_cosine_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return exact_cosine_pairs(
        emb, threshold=0.35, id_col="vec_id", vec_col="embedding",
        strategy="blocked", n_blocks=4,
    )


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline a training-data user actually
    runs, as ONE query under the value hash: quality gates -> exact
    content dedup (clean_corpus: rejects never enter the md5 exchange)
    -> MinHash-LSH near-dup CLUSTER dedup (dedup_corpus: label
    propagation over the candidate pair graph, min-id survivor) ->
    bigram-LM perplexity deciles FIT ON THE SURVIVORS (rank_buckets:
    no global-order window) -> per-(lang, decile) manifest with BIGINT
    doc/token counts.  The oracle composes the same four stages in one
    SQL statement (gates + min-id-per-md5, recursive-CTE connected
    components over exact all-pairs Jaccard, the add-k perplexity
    replay over the surviving subset, integer rank-bucket math) — so a
    single flipped survivor, a perplexity fit contaminated by dropped
    docs, or an off-by-one in the decile rank moves the hash."""
    from sketch_spark.operators.dedup import dedup_corpus
    from sketch_spark.operators.filtering import clean_corpus
    from sketch_spark.operators.lm import bigram_lm_perplexity
    from sketch_spark.operators.sampling import rank_buckets

    docs = _read(spark, sf_dir, "documents")
    # dedup_corpus references its input 3x (signatures, candidate text
    # re-read, anti-join): checkpoint so the gate+md5 pass runs once
    cleaned = clean_corpus(docs).localCheckpoint(eager=True)
    surv = dedup_corpus(
        cleaned, "doc_id", "text", threshold=0.4, num_perm=64, bands=16,
        shingle_k=3, seed=1,
    )
    # read twice (LM fit + manifest join): checkpoint per CLAUDE.md
    surv = surv.select("doc_id", "lang", "text").localCheckpoint(eager=True)
    dec = rank_buckets(
        bigram_lm_perplexity(surv, add_k=0.5), "ppl", n_buckets=10,
        bucket_col="decile",
    )
    return (
        surv.withColumn(
            "n_tok", F.size(tokens_col("text"))
        )
        .join(dec.select("doc_id", "decile"), "doc_id")
        .groupBy("lang", "decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum/quality deciles: docs bucketed 1..10 by corpus-trained
    bigram-LM perplexity (rounded values — the same hash-checked ones
    as lm_perplexity — so cross-engine ordering is exact).  Bucket
    assignment is rank-based integer math over a range-partitioned
    order, never a global-order window (one-task trap)."""
    from sketch_spark.operators.lm import bigram_lm_perplexity
    from sketch_spark.operators.sampling import rank_buckets

    docs = _read(spark, sf_dir, "documents")
    ppl = bigram_lm_perplexity(docs, add_k=0.5)
    return rank_buckets(ppl, "ppl", n_buckets=10, bucket_col="decile").select(
        "doc_id", "n_bigrams", "ppl", "decile"
    )


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixture weights per source (alpha=0.5 up-weights
    small sources) and the per-source sampling rate for a 300-doc
    budget — the data-mixing policy table, category-scale."""
    from sketch_spark.operators.sampling import mixture_weights

    docs = _read(spark, sf_dir, "documents")
    return mixture_weights(docs, "source", alpha=0.5, budget=300)


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic temperature-mixture sample (~300 docs at alpha=0.5):
    md5-rank filter against broadcast per-source rates — map-only,
    repartition-stable, byte-reproducible in DuckDB."""
    from sketch_spark.operators.sampling import temperature_sample

    docs = _read(spark, sf_dir, "documents")
    return temperature_sample(docs, "source", alpha=0.5, budget=300).select(
        "doc_id", "source"
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup report: connected components over
    the blocked exact-cosine near-dup graph, smallest id kept per
    cluster.  Oracled by a recursive-CTE transitive closure over the
    same all-pairs cosine edges (the dedup_corpus oracle pattern)."""
    from sketch_spark.operators.similarity import semantic_dedup_report

    emb = _read(spark, sf_dir, "embeddings")
    return semantic_dedup_report(
        emb, threshold=0.35, id_col="vec_id", vec_col="embedding",
        strategy="blocked", n_blocks=4,
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path (IVF coarse quantizer, nprobe cells) — rows-only
    contract entry; recall vs brute force is asserted in pytest
    (tests/test_dedup_similarity.py)."""
    from sketch_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 5).collect()
    queries = {int(r["vec_id"]): r["embedding"] for r in qrows}
    corpus = emb.filter(F.col("vec_id") >= 10)
    return ivf_topk(corpus, queries, k=5, n_cells=16, nprobe=6, seed=1)


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path (hyperplane LSH buckets, Hamming<=1 probe) —
    rows-only contract entry; recall floor asserted in pytest."""
    from sketch_spark.operators.similarity import lsh_bucket_topk

    emb = _read(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 5).collect()
    queries = {int(r["vec_id"]): r["embedding"] for r in qrows}
    corpus = emb.filter(F.col("vec_id") >= 10)
    return lsh_bucket_topk(corpus, queries, k=5, bits=8, seed=1, probe_hamming=1)


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed keep/drop gate (length window + vocabulary degeneracy +
    Gopher top-token cap) with a deterministic reasons string — the
    end-to-end quality pass, one codegen projection, hash-oracled."""
    from sketch_spark.operators.filtering import corpus_filter

    docs = _read(spark, sf_dir, "documents")
    return corpus_filter(docs)


def q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report (doc count, mean length, gate
    pass-rate, exact-dup count) — the threshold-setting dashboard,
    two exchanges total, hash-oracled."""
    from sketch_spark.operators.filtering import source_quality_report

    docs = _read(spark, sf_dir, "documents")
    return source_quality_report(docs)


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter signal: add-k bigram LM trained on
    the corpus itself, per-doc exp(-mean log P) — counts + joins + one
    log/exp, so the perplexities themselves are hash-checked."""
    from sketch_spark.operators.lm import bigram_lm_perplexity

    docs = _read(spark, sf_dir, "documents")
    return bigram_lm_perplexity(docs, add_k=0.5)


def q_passage_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level duplicate pairs via shared winnowing fingerprints
    (copied >= k+window-1-word spans), df-banded so boilerplate spans
    and singleton fingerprints never reach the self-join — every number
    a pure md5 function, hash-oracled."""
    from sketch_spark.operators.dedup import passage_duplicates

    docs = _read(spark, sf_dir, "documents")
    return passage_duplicates(docs, k=5, window=8, min_shared=2, max_df=20)


def q_dup_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate-span report: maximal token spans
    covered by 10-grams occurring >= 2x corpus-wide (Lee et al. 2022's
    'deduplicating training data' pass at n-gram granularity).  Gram
    hashes roll over per-occurrence token hashes — no gram strings,
    unique-hash-only exchange, broadcast-membership second pass; the
    DuckDB oracle groups by gram STRING, so the hash-green row also
    certifies the hashed path's equivalence."""
    from sketch_spark.operators.dedup import duplicate_ngram_spans

    docs = _read(spark, sf_dir, "documents")
    return duplicate_ngram_spans(docs, n=10, min_count=2)


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with every duplicated 10-gram span cut out: (doc_id,
    clean_text, n_tokens, n_removed), clean text byte-checked against
    the DuckDB reconstruction."""
    from sketch_spark.operators.dedup import remove_duplicate_spans

    docs = _read(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, n=10, min_count=2)


def q_fd_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent Directions (Liberty 2013) corpus-embedding spectrum:
    top-8 singular values from an ell=16 merged FD state built in one
    Arrow pass over partition-local vectors (core/fd.py; the
    linear-algebra member of the mergeable family).  Rows-only by
    design, like KLL/t-digest: estimates are merge-order-dependent
    WITHIN the published spectral bound ||A||_F^2/ell — the sandwich
    0 <= A^TA - B^TB <= bound*I and Weyl per-component accuracy are
    pinned in tests/test_fd.py, incl. the distributed path at multiple
    partitionings."""
    from sketch_spark.operators.aggregate import fd_spectrum

    emb = _read(spark, sf_dir, "embeddings")
    return fd_spectrum(emb, vec_col="embedding", ell=16, k=8)


def q_fd_spectrum_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed Frequent Directions: one ell=8 FD state PER LABEL in the
    same fused Arrow pass (build_partials group_cols), per-cluster
    subspace spectra — drift monitoring per language/source/cluster.
    Rows-only like fd_spectrum; per-group Weyl accuracy pinned in
    tests/test_fd.py::test_fd_spectrum_grouped."""
    from sketch_spark.operators.aggregate import fd_spectrum

    emb = _read(spark, sf_dir, "embeddings")
    return fd_spectrum(
        emb, vec_col="embedding", ell=8, k=3, group_cols=["label"]
    )


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QC via FD subspace residuals: per-vector distance from
    the corpus's dominant rank-8 subspace (fd_residuals — pass 1 builds
    the merged FD state with vectors never shuffling, pass 2 broadcasts
    V_k and scores map-only with one numpy gemm per batch).  Rows-only:
    residual VALUES inherit FD's merge-order dependence; the subspace
    properties (in-subspace ~0 at any partitioning, orthogonal outlier
    ratio ~1, zero-vector guard) are pinned in test_fd."""
    from sketch_spark.operators.aggregate import fd_residuals

    emb = _read(spark, sf_dir, "embeddings")
    return fd_residuals(emb, vec_col="embedding", id_col="vec_id", ell=16, k=8)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer/vocab design curve: minimal number of highest-frequency
    token types covering 50/90/99/99.9% of all token occurrences, plus
    the frequency cutoff and exact covered mass.  Integer-exact
    throughout (needed mass = ceil(total*ppm/1e6) in BIGINTs; partial
    take = integer ceil-division), so the curve sits under the value
    hash; identities never matter — the cumulative step runs over the
    frequency-of-frequencies table only (<= sqrt(2N) rows at N
    occurrences)."""
    from sketch_spark.operators.frequent import vocab_coverage

    docs = _read(spark, sf_dir, "documents")
    return vocab_coverage(docs)


def _vocab_coverage_oracle_sql() -> str:
    from sketch_spark.operators.frequent import vocab_coverage_sql

    return vocab_coverage_sql()


_BP_HEADER = "please accept our cookie policy before reading"
_BP_FOOTER = "subscribe to the newsletter for updates"
_BP_LINE_RE = r"((?:\S+ ){6}\S+) "


def _decorate_multiline(docs: DataFrame) -> DataFrame:
    """Decorate any (doc_id, text, source) frame — batch OR streaming —
    into deterministic multi-line pages (pure Catalyst expressions)."""
    body = F.regexp_replace(F.col("text"), _BP_LINE_RE, "$1\n")
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.when(F.col("doc_id") % 3 != 2, F.lit(_BP_HEADER)),
            body,
            F.concat(F.lit("copyright "), F.col("source"), F.lit(" all rights reserved")),
            F.when(F.col("doc_id") % 5 < 2, F.lit(_BP_FOOTER)),
            F.concat(F.lit("doc marker "), F.md5(F.col("doc_id").cast("string"))),
        ).alias("text"),
    )


def _multiline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus is single-line; decorate it into the
    multi-line web pages the line-dedup family targets (the pii_scan
    planting trick): body split into 7-token lines, plus deterministic
    cross-doc boilerplate — a cookie header on 2/3 of docs, a
    per-source copyright footer on every doc, a newsletter plea on 2/5,
    and a df=1 marker line that must never be removed.  DuckDB mirrors
    the construction exactly (``_multiline_docs_table``)."""
    return _decorate_multiline(_read(spark, sf_dir, "documents"))


def _multiline_docs_table() -> str:
    """DuckDB twin of :func:`_multiline_docs` as a parenthesized
    subquery usable as a table expression."""
    return f"""(
          SELECT doc_id,
                 concat_ws(chr(10),
                   CASE WHEN doc_id % 3 <> 2 THEN '{_BP_HEADER}' END,
                   regexp_replace(text, '{_BP_LINE_RE}', '\\1' || chr(10), 'g'),
                   'copyright ' || source || ' all rights reserved',
                   CASE WHEN doc_id % 5 < 2 THEN '{_BP_FOOTER}' END,
                   'doc marker ' || md5(CAST(doc_id AS VARCHAR))
                 ) AS text
          FROM documents
        )"""


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4-style boilerplate-line detector: trimmed lines >= 10
    chars appearing in >= 20 distinct documents of the decorated
    multi-line corpus.  Exchange carries per-partition-unique line keys
    only (per-doc array_distinct runs map-side).  String-keyed here so
    the lines themselves sit under the value hash."""
    from sketch_spark.operators.dedup import boilerplate_lines

    docs = _multiline_docs(spark, sf_dir)
    return boilerplate_lines(docs, min_docs=20, min_chars=10, key="gram")


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with every boilerplate line (df >= 20) removed — the C4
    'line appears three-plus times' rule at corpus scale: (doc_id,
    clean_text, n_lines, n_removed) with clean text byte-checked.  Runs
    the xxhash64-keyed scale path (8-byte df exchange; hit positions
    collapse per affected doc; cut is a codegen filter) — the hash-green
    row certifies it against the string-keyed DuckDB reconstruction."""
    from sketch_spark.operators.dedup import remove_boilerplate_lines

    docs = _multiline_docs(spark, sf_dir)
    return remove_boilerplate_lines(docs, min_docs=20, min_chars=10, key="hash")


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase, accent fold, whitespace
    collapse) checked by md5 byte-identity.  The synthetic corpus is
    ASCII single-spaced, so the contract decorates each doc with
    deterministic case/accents/whitespace the same way on both sides
    (the pii_scan planting trick)."""
    from sketch_spark.functions.text import normalize_text_col

    docs = _read(spark, sf_dir, "documents")
    decorated = F.concat(
        F.lit("  Élan CAFÉ\t"),
        F.upper(F.substring("text", 1, 16)),
        F.lit("  übermäßig  Ñoño \n"),
        F.col("text"),
    )
    norm = normalize_text_col(decorated)
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("long").alias("n_chars"),
    )


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data pass in one query: quality gates (map-only)
    then exact content dedup (min-id per md5, one window exchange over
    the SURVIVING text only) — hash-oracled end to end."""
    from sketch_spark.operators.filtering import clean_corpus

    docs = _read(spark, sf_dir, "documents")
    return clean_corpus(docs).select("doc_id", "lang", "source")


_BM25_TERMS = ["spark", "join", "dup"]  # two head tokens + the one rare token


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval baseline (BM25, Robertson/Lucene idf) for a
    fixed term bag — one scan + 1-row stats broadcast +
    TakeOrderedAndProject; no data-scale shuffle anywhere."""
    from sketch_spark.operators.retrieval import bm25_topk

    docs = _read(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=20)


def q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 candidate generation (no data-scale
    shuffle) -> 50-row candidate broadcast into ONE hash join against
    the embeddings table -> cosine rerank against a fixed query vector
    (embedding of vec_id 0; 1-row bounded collect) -> blended top-10.
    Exact DuckDB replay including both 6dp rounding points."""
    from sketch_spark.operators.retrieval import hybrid_topk

    docs = _read(spark, sf_dir, "documents")
    emb = _read(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return hybrid_topk(docs, emb, _BM25_TERMS, list(qv), k=10, n_candidates=50)


def q_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 and cosine candidate lists
    (rrf = sum 1/(60+rank)): rank-level hybrid retrieval whose fused
    score involves only integer ranks and IEEE-exact division/addition
    — bit-reproducible cross-engine by construction, no normalization,
    no libm in the fusion."""
    from sketch_spark.operators.retrieval import rrf_topk

    docs = _read(spark, sf_dir, "documents")
    emb = _read(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return rrf_topk(docs, emb, _BM25_TERMS, list(qv), k=10, n_candidates=50)


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postings-list construction: distinct (token, doc) exchange,
    df + capped sorted posting string per token."""
    from sketch_spark.operators.retrieval import inverted_index

    docs = _read(spark, sf_dir, "documents")
    return inverted_index(docs, max_postings=64)


def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means, hash-oracled end to end: deterministic
    init (embeddings of the 8 smallest ids), ONE distributed update pass
    (mapInArrow partials -> k x (d+1) aggregate; driver holds only the
    8 x 64 centroid matrix), then a map-only hard assignment.  DuckDB
    replays the identical iteration as cross join + argmin + grouped
    means — the full-corpus clustering path under the value-hash gate."""
    from sketch_spark.operators.clustering import kmeans_assign, kmeans_fit

    emb = _read(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=8, iters=1)
    assigned = kmeans_assign(emb, cents, with_dist=True)
    return assigned.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_members"),
        F.round(F.avg("sqdist"), 6).alias("avg_sqdist"),
    )


def _stream_input(spark: SparkSession, sf_dir: str, name: str):
    """Deterministic multi-file copy of documents for file-stream
    micro-batching, plus fresh checkpoint/state scratch under /tmp."""
    import shutil

    base = os.path.join(
        "/tmp", "sketch_spark_stream", os.path.basename(os.path.normpath(sf_dir)), name
    )
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "input")
    docs = _read(spark, sf_dir, "documents")
    docs.repartition(8).write.parquet(in_dir)
    return base, in_dir, docs.schema


def q_streaming_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming with a hard driver signal (VERDICT r2 #9):
    documents arrive as a file stream (maxFilesPerTrigger=2 -> several
    micro-batches), a native streaming groupBy-count aggregates across
    epochs, and foreachBatch snapshots the complete state to parquet.
    The final snapshot must hash-match the BATCH token_counts oracle —
    streaming==batch equivalence under the driver's value-hash gate,
    not just in pytest."""
    base, in_dir, schema = _stream_input(spark, sf_dir, "tok")
    out_dir = os.path.join(base, "out")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(in_dir)
    )
    agg = (
        stream.select(F.explode(tokens_col("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )

    def snap(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = (
        agg.writeStream.foreachBatch(snap)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .filter(F.col("cnt") >= 200)
        .select(F.col("tok").alias("token"), "cnt")
    )


def q_streaming_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of boilerplate_lines: decorated documents arrive
    as a file stream (several micro-batches), per-document DISTINCT
    eligible line keys explode map-side, and a native streaming
    groupBy-count accumulates document frequency across epochs — valid
    because each document arrives in exactly one micro-batch, so
    per-batch distinct-per-doc counts sum to the global df.  The final
    complete-mode snapshot filtered at min_docs must hash-match the
    BATCH boilerplate_lines oracle — streaming==batch under the
    driver's value-hash gate."""
    from sketch_spark.operators.dedup import _trimmed_lines

    base, in_dir, schema = _stream_input(spark, sf_dir, "bp")
    out_dir = os.path.join(base, "out")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(in_dir)
    )
    mdocs = _decorate_multiline(stream)
    eligible = F.filter(_trimmed_lines("text"), lambda x: F.length(x) >= 10)
    agg = (
        mdocs.select(F.explode(F.array_distinct(eligible)).alias("line_key"))
        .groupBy("line_key")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )

    def snap(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = (
        agg.writeStream.foreachBatch(snap)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).filter(F.col("n_docs") >= 20)


def q_streaming_cmcu_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch sketch-fold path (streaming_sketch_query) under
    driver execution: micro-batches fold CMCU partials into the
    persisted state table, and the final snapshot's estimates for the
    exact-count>=200 candidate tokens are returned (rows-only — same
    declared design as cmcu_estimates; streaming==batch byte-identity
    of the folded state is pinned in tests/test_streaming.py)."""
    from sketch_spark.operators.aggregate import SketchSpec
    from sketch_spark.operators.emerging import (
        broadcast_sketch,
        candidate_token_counts,
        estimate_tokens_udf,
    )
    from sketch_spark.streaming.sketch_stream import read_state, streaming_sketch_query

    base, in_dir, schema = _stream_input(spark, sf_dir, "cmcu")
    spec = SketchSpec(
        "cmcu", "cmcu", "text", mode="tokens",
        params={"depth": 4, "log2_width": 14, "seed": 1},
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(in_dir)
    )
    q = streaming_sketch_query(
        stream, [spec], os.path.join(base, "state"), os.path.join(base, "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    sketch = read_state(spark, os.path.join(base, "state"), "cmcu")
    bc = broadcast_sketch(spark, sketch)
    docs = _read(spark, sf_dir, "documents")
    cand = candidate_token_counts(docs, "text", bc, threshold=200)
    return cand.select(
        "token", estimate_tokens_udf(bc)(F.col("token")).alias("est")
    )


def q_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup probe under the driver's value-hash gate:
    the odd-id half of the corpus arrives as file-stream micro-batches
    (maxFilesPerTrigger=2 over 8 files) and each batch is probed
    against the persisted even-half MinHash index via foreachBatch —
    pure probe mode (static index), so the union of the epoch pair
    logs must hash-match the BATCH ``incremental_dedup`` oracle no
    matter where the micro-batch boundaries fall (pinned as a pytest
    property too: test_streaming_dedup.py::
    test_probe_mode_matches_batch_incremental)."""
    import shutil

    from sketch_spark.streaming.dedup_stream import (
        init_near_dedup_index,
        read_stream_pairs,
        streaming_near_dedup,
    )

    base = os.path.join(
        "/tmp", "sketch_spark_stream",
        os.path.basename(os.path.normpath(sf_dir)), "neardup",
    )
    shutil.rmtree(base, ignore_errors=True)
    docs = _read(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    root = os.path.join(base, "idx")
    init_near_dedup_index(old, root)
    in_dir = os.path.join(base, "input")
    new.repartition(8).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(in_dir)
    )
    q = streaming_near_dedup(
        stream,
        root,
        threshold=0.4,
        update_index=False,
        within_batch=False,
        checkpoint=os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    return read_stream_pairs(spark, root).select("id_new", "id_old", "jaccard")


def q_streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WINDOWED aggregation under the driver gate: events
    arrive as file-stream micro-batches, a native streaming
    window(ts, 1 hour) x event_type aggregation accumulates across
    epochs, and the complete-mode snapshot must hash-match the BATCH
    events_hourly oracle — the tumbling-window streaming==batch
    equivalence as a contract query, not just a pytest."""
    import shutil

    base = os.path.join(
        "/tmp", "sketch_spark_stream",
        os.path.basename(os.path.normpath(sf_dir)), "evhourly",
    )
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "input")
    ev = _read(spark, sf_dir, "events")
    ev.repartition(8).write.parquet(in_dir)
    out_dir = os.path.join(base, "out")
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 2).parquet(in_dir)
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("_sv"))
    )

    def snap(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = (
        agg.writeStream.foreachBatch(snap)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH").alias("hour"),
        "event_type",
        "n",
        F.round(F.col("_sv"), 2).alias("sum_value"),
    )


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE coverage: day x event_type counts at every grouping-set
    level with the grouping_id bitmask — the OLAP rollup surface beyond
    the linear ROLLUP in tpch_rollup."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.cube(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(F.count("*").alias("n"), F.grouping_id().alias("gid"))
    )


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest with a hard driver signal (VERDICT r2 #7): the
    documents table is written out as deterministic .warc.gz archives
    (url/date derived from doc_id, payload = utf-8 text), read back
    through the distributed ``read_warc`` path (binaryFile -> per-file
    Arrow parse), and per-record accounting (url, ts, md5, byte length)
    is oracled against DuckDB computing the same fields straight from
    ``documents`` — so record framing, gzip handling, timestamp parsing
    and payload byte-identity are all under the hash check (the
    input_hint's byte-identical-text-per-url invariant, via md5)."""
    import datetime

    from sketch_spark.sources.warc import read_warc, write_warc

    rows = _read(spark, sf_dir, "documents").select("doc_id", "text").collect()
    out_dir = os.path.join(
        "/tmp", "sketch_spark_warc", os.path.basename(os.path.normpath(sf_dir))
    )
    os.makedirs(out_dir, exist_ok=True)
    base = datetime.datetime(2026, 1, 1)
    shards: dict[int, list] = {s: [] for s in range(4)}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        did = int(r["doc_id"])
        shards[did % 4].append(
            (
                f"https://example.org/doc/{did}",
                (base + datetime.timedelta(seconds=did)).isoformat() + "Z",
                r["text"].encode("utf-8"),
            )
        )
    for s, recs in shards.items():
        write_warc(os.path.join(out_dir, f"part-{s}.warc.gz"), recs, compress=True)
    pages = read_warc(spark, out_dir)
    return pages.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.md5("html").alias("text_md5"),
        F.length("html").alias("n_bytes"),
    )


def q_ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over a STORED, partition-pruned index: build_ann_index writes
    (id, vec) partitioned by IVF cell (+ centroid sidecar), then the
    probe reads ONLY the nprobe nearest cell partitions
    (PartitionFilters at the parquet scan — pinned in
    tests/test_plan_guards.py).  Rows-only contract entry; exact
    equality with the unindexed ivf_topk is asserted in pytest
    (tests/test_round3_fixes.py)."""
    import os

    from sketch_spark.operators.similarity import build_ann_index, ivf_topk_indexed

    emb = _read(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 5).collect()
    queries = {int(r["vec_id"]): r["embedding"] for r in qrows}
    corpus = emb.filter(F.col("vec_id") >= 10)
    path = os.path.join(
        "/tmp", "sketch_spark_ann_index", os.path.basename(os.path.normpath(sf_dir))
    )
    build_ann_index(corpus, path, n_cells=16, seed=1, kind="ivf")
    return ivf_topk_indexed(spark, path, queries, k=5, nprobe=6)


def q_ivf_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-index probe machinery under the FULL value-hash gate:
    probing every cell of the partitioned ann index is exact, so the
    index write (assignment gemm + partitionBy layout + centroid
    sidecar) and the probe read must together reproduce the brute-force
    cosine top-k oracle bit-for-bit — hardening what was previously
    pytest-only equality into a driver-checked result.  The
    approximate nprobe path stays the separate rows-only entry."""
    import os

    from sketch_spark.operators.similarity import build_ann_index, ivf_topk_indexed

    emb = _read(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 5).collect()
    queries = {int(r["vec_id"]): r["embedding"] for r in qrows}
    corpus = emb.filter(F.col("vec_id") >= 10)
    path = os.path.join(
        "/tmp", "sketch_spark_ann_index_x", os.path.basename(os.path.normpath(sf_dir))
    )
    build_ann_index(corpus, path, n_cells=16, seed=1, kind="ivf")
    return ivf_topk_indexed(spark, path, queries, k=5, nprobe=16)


def q_lsh_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hyperplane-LSH stored index under the full value-hash gate:
    probing every bucket (probe_hamming >= bits) is exact, so the
    sign-bit bucketed layout plus its partitioned probe read must
    reproduce the brute-force cosine top-k oracle — the hyperplane
    twin of ivf_topk_exact.  The radius-1 probe stays rows-only."""
    import os

    from sketch_spark.operators.similarity import build_ann_index, lsh_topk_indexed

    emb = _read(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 5).collect()
    queries = {int(r["vec_id"]): r["embedding"] for r in qrows}
    corpus = emb.filter(F.col("vec_id") >= 10)
    path = os.path.join(
        "/tmp", "sketch_spark_lsh_index_x", os.path.basename(os.path.normpath(sf_dir))
    )
    build_ann_index(corpus, path, seed=1, kind="hyperplane", bits=4)
    return lsh_topk_indexed(
        spark, path, queries, k=5, bits=4, seed=1, probe_hamming=4
    )


def q_incremental_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding analogue of incremental_dedup: the even-id half of the
    embeddings table is indexed ONCE as a stored cell-partitioned IVF
    layout, then the odd-id half probes it for cosine near-duplicates —
    nothing about the indexed corpus is recomputed.  Contract runs
    nprobe="all" (exact — the whole pair set with rounded cosines under
    the value hash); small-nprobe pruning is the scale mode, pinned by
    subset/recall/plan pytests (test_dedup_similarity)."""
    import shutil

    from sketch_spark.operators.similarity import (
        build_ann_index,
        incremental_semantic_dedup,
    )

    emb = _read(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    idx = os.path.join(
        "/tmp", "sketch_spark_sem_idx", os.path.basename(os.path.normpath(sf_dir))
    )
    shutil.rmtree(idx, ignore_errors=True)
    build_ann_index(old, idx, n_cells=8)
    return incremental_semantic_dedup(new, idx, threshold=0.35, nprobe="all")


def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship corpus dedup end-to-end: MinHash signatures -> LSH
    candidate buckets -> exact-Jaccard verify -> connected components
    (label propagation over the pair graph) -> keep the smallest-id
    representative per cluster.  Oracle: recursive-CTE components over
    the exact all-pairs Jaccard graph — at sf0.01 every J>=0.4 pair is
    comfortably above the LSH recall knee (no pair sits below J=0.6),
    so the approximate pipeline provably recovers the exact pair set
    and the survivors hash-match."""
    from sketch_spark.operators.dedup import dedup_corpus

    docs = _read(spark, sf_dir, "documents")
    out = dedup_corpus(
        docs, "doc_id", "text", threshold=0.4, num_perm=64, bands=16,
        shingle_k=3, seed=1,
    )
    return out.select("doc_id", "lang")


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: index the even-id half of the corpus once
    (persisted LSH band keys), then dedup the odd-id half against it —
    corpus signatures are NOT recomputed; verification re-reads text
    for candidates only.  Oracle: exact cross-half Jaccard pairs (the
    same above-the-knee fixture property as dedup_corpus)."""
    import os

    from sketch_spark.operators.dedup import (
        incremental_near_duplicates,
        write_minhash_index,
    )

    docs = _read(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    idx = f"/tmp/sketch_spark_mh_index_{os.path.basename(os.path.normpath(sf_dir))}"
    write_minhash_index(old, idx)
    return incremental_near_duplicates(new, idx, old, threshold=0.4)


def q_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH (bands, rows) auto-tuner at threshold 0.6 over 64-hash
    signatures: weighted S-curve FP/FN midpoint-quadrature areas per
    (b, r) grid point, ``chosen`` marking the argmin.  A parameter dim
    table (pure function of the tuning constants, not a corpus scan) —
    still under the full value-hash gate because the quadrature is
    margin-tested to clear every 6dp rounding boundary by >1e-10
    while cross-engine pow drift is ~1e-14 (tests/test_tuning.py)."""
    from sketch_spark.operators.tuning import lsh_tuning_table

    return lsh_tuning_table(spark, threshold=0.6, num_perm=64, grid=256)


def q_keyed_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit-salting skew path (north-star heavy-hitter clause):
    per-source sketches via keyed_sketch_aggregate — rows fan out to
    (key, salt) reducers, per-salt states tree-merge.  The merged
    metadata (n_docs, n_tokens) is exact regardless of sketch content,
    which is what the DuckDB oracle checks end-to-end: any row lost or
    double-fed by the salting/merge would break the counts."""
    from sketch_spark.operators.aggregate import SketchSpec, keyed_sketch_aggregate

    docs = _read(spark, sf_dir, "documents")
    spec = SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 14, "seed": 1})
    merged = keyed_sketch_aggregate(docs, ["source"], [spec], salt=8, row_id_col="doc_id")
    return merged.select(
        "source",
        F.col("n_rows").alias("n_docs"),
        F.col("n_values").alias("n_tokens"),
    )


def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume kill-test (north_rule: "resumable from
    checkpoint with per-partition lineage + metrics") as a contract
    entry — rows-only: the multi-job kill/resume orchestration isn't
    SQL-expressible.  Protocol (operators/checkpoint.py): run the same
    bucketed sketch job (a) uninterrupted and (b) killed after wave 1
    then resumed; per (bucket, spec) the resumed checkpoint must
    byte-match the uninterrupted states + lineage fingerprints, and
    buckets completed before the kill must be SKIPPED by the resume
    (their checkpoint files untouched, pinned via completed_at_epoch).
    """
    import shutil
    import tempfile

    import pyarrow.parquet as _pq

    from sketch_spark.operators.aggregate import SketchSpec
    from sketch_spark.operators.checkpoint import CheckpointedSketchJob, SimulatedFailure

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    specs = [
        SketchSpec(
            "cmcu", "cmcu", "text", mode="tokens",
            params={"depth": 4, "log2_width": 12, "seed": 1},
        ),
        SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 12, "seed": 1}),
    ]
    n_buckets = 8
    base = tempfile.mkdtemp(prefix="sketch_spark_ckpt_contract_")
    try:
        job_a = CheckpointedSketchJob(
            docs, specs, os.path.join(base, "a"), key_col="doc_id",
            n_buckets=n_buckets, wave_size=3,
        )
        job_a.run()
        job_b = CheckpointedSketchJob(
            docs, specs, os.path.join(base, "b"), key_col="doc_id",
            n_buckets=n_buckets, wave_size=3,
        )
        try:
            job_b.run(fail_after_waves=1)
            raise RuntimeError("simulated kill did not fire")
        except SimulatedFailure:
            pass
        survived = job_b.completed_buckets()
        epochs_before = {
            b: _pq.read_table(job_b._bucket_path(b)).to_pylist()[0]["completed_at_epoch"]
            for b in survived
        }
        job_b.run()  # resume: must process ONLY the remainder
        job_b.result(validate_lineage=True)  # lineage fingerprints all check out
        rows = []
        for bucket in range(n_buckets):
            ta = sorted(
                _pq.read_table(job_a._bucket_path(bucket)).to_pylist(),
                key=lambda r: r["spec"],
            )
            tb = sorted(
                _pq.read_table(job_b._bucket_path(bucket)).to_pylist(),
                key=lambda r: r["spec"],
            )
            skipped = (
                bucket in survived
                and tb[0]["completed_at_epoch"] == epochs_before[bucket]
            )
            if len(ta) != len(tb):  # zip would silently drop a lost spec
                raise RuntimeError(
                    f"checkpoint resume lost state: bucket {bucket} has "
                    f"{len(ta)} specs uninterrupted vs {len(tb)} resumed"
                )
            for ra, rb in zip(ta, tb):
                rows.append(
                    (
                        bucket,
                        ra["spec"],
                        bucket in survived,
                        bool(skipped) if bucket in survived else False,
                        ra["state"] == rb["state"]
                        and ra["input_fingerprint"] == rb["input_fingerprint"]
                        and ra["n_rows"] == rb["n_rows"]
                        and ra["n_values"] == rb["n_values"],
                        int(ra["n_rows"]),
                    )
                )
        out = spark.createDataFrame(
            rows,
            "bucket int, spec string, completed_before_kill boolean, "
            "skipped_on_resume boolean, resumed_matches boolean, n_rows long",
        )
        bad = [r for r in rows if not r[4]] + [r for r in rows if r[2] and not r[3]]
        if bad:
            raise RuntimeError(f"checkpoint resume diverged: {bad[:4]}")
        return out
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_skewed_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter skew through the salted keyed path (north-star skew
    clause): a synthetic mega-host holds HALF the corpus (~25x the
    median host), yet keyed_sketch_aggregate's deterministic salt fans
    it over S reducers and tree-merges per-salt states.  The exact
    merged metadata proves no row was lost or double-fed by the
    fan-out; the measured task-balance evidence (max/median post-
    exchange rows, naive vs salted) is in BENCH.md via
    bench_util/skew.py + tests/test_skew.py."""
    from sketch_spark.operators.aggregate import SketchSpec, keyed_sketch_aggregate

    docs = _read(spark, sf_dir, "documents").withColumn(
        "host",
        F.when(F.col("doc_id") % 2 == 0, F.lit("mega.example.com")).otherwise(
            F.concat(F.lit("host-"), (F.col("doc_id") % 25).cast("string"))
        ),
    )
    spec = SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 12, "seed": 1})
    merged = keyed_sketch_aggregate(docs, ["host"], [spec], salt=8, row_id_col="doc_id")
    return merged.select(
        "host",
        F.col("n_rows").alias("n_docs"),
        F.col("n_values").alias("n_tokens"),
    )


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated semi-join (exact mode): big-side rows are dropped by
    the broadcast Bloom prefilter BEFORE any shuffle; the surviving
    sliver takes the exact left-semi join, so output equals plain
    ``WHERE key IN (...)``."""
    from sketch_spark.operators.emerging import bloom_semi_join

    orders = _read(spark, sf_dir, "orders")
    keys = (
        _read(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    out = bloom_semi_join(orders, keys, "o_custkey", log2_bits=20, k=5, seed=1, exact=True)
    return out.select("o_orderkey", "o_custkey")


def q_html_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_hint per-row invariant as a contract operator: wrap text
    into the html:binary template and extract it back — both pure
    Catalyst column functions (sources/pages.py) — then md5 the
    extracted bytes.  The oracle computes md5(text) independently, so
    a single byte lost by extraction breaks the hash."""
    from sketch_spark.sources.pages import extract_text_col, wrap_html_col

    docs = _read(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://docs.example.com/"), F.col("doc_id").cast("string"))
    html = wrap_html_col(url, F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(extract_text_col(html)).alias("extracted_md5"),
        F.length(html).cast("long").alias("n_html_bytes"),
    )


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-pipeline token counting with the BPE-style pre-tokenization
    split (letter runs / digit runs / single punctuation) — a pure
    Catalyst regexp whose semantics match RE2 so DuckDB reproduces it."""
    from sketch_spark.functions.text import bpe_ish_tokens_col

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(bpe_ish_tokens_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 500)
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling-hash document fingerprints as a pure
    Catalyst per-doc expression — every shared >= k+window-1 word run
    yields a shared fingerprint."""
    from sketch_spark.functions.text import winnow_fingerprints_col

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id", F.explode(winnow_fingerprints_col("text", 3, 4)).alias("fp")
    )


def q_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch rollup table (hypertable analogue): materialize one merged
    HLL state per day over events, then read the STATE TABLE back — the
    per-bucket exact accounting (n_events) is what DuckDB oracles, so a
    bucket lost or double-merged by the rollup path breaks the hash.
    Range queries over the states (no rescan) are covered in
    tests/test_rollup.py."""
    import tempfile

    from sketch_spark.operators.aggregate import SketchSpec
    from sketch_spark.operators.rollup import build_sketch_rollup

    events = _read(spark, sf_dir, "events")
    spec = SketchSpec("hll", "hll", "user_id", mode="value", params={"p": 14, "seed": 1})
    # scratch path keyed by (sf dir, pid): repeated calls in one
    # process reuse it (no temp-dir leak), concurrent processes and
    # different scale factors cannot clobber each other mid-read
    out = os.path.join(
        tempfile.gettempdir(),
        f"sketch_rollup_contract_{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}",
    )
    build_sketch_rollup(events, "ts", [spec], out, granularity="day")
    return (
        spark.read.parquet(out)
        .filter(F.col("spec") == "hll")
        .select(
            F.col("bucket").alias("day"),
            F.col("n_rows").cast("long").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_emerging_hh(spark, "/root/testdata/sf0.001")


def _url_oracle_sql(rollup: bool) -> str:
    from sketch_spark.functions.urls import url_sql_exprs

    e = url_sql_exprs("url")
    base = f"""
        WITH u AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents)
        SELECT doc_id,
               {e['normalized']} AS url_norm,
               {e['host']} AS host,
               {e['domain']} AS domain
        FROM u
    """
    if not rollup:
        return base
    return f"""
        WITH norm AS ({base})
        SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
        FROM norm GROUP BY domain
    """


def _shard_manifest_oracle() -> str:
    from sketch_spark.operators.packing import shard_manifest_sql

    return shard_manifest_sql(n_shards=8, table="documents", id_col="doc_id", seed=1)


def _nb_classifier_oracle() -> str:
    from sketch_spark.operators.classifier import nb_classifier_sql

    return nb_classifier_sql("lang = 'en'")


def _pii_oracle_sql() -> str:
    from sketch_spark.functions.pii import pii_sql_exprs

    e = pii_sql_exprs("t")
    return f"""
        WITH p AS (SELECT doc_id, {_PII_TEXT_SQL} AS t FROM documents)
        SELECT doc_id,
               {e['n_emails']} AS n_emails,
               {e['n_phones']} AS n_phones,
               {e['n_ipv4']} AS n_ipv4,
               {e['first_email']} AS first_email,
               md5({e['redacted']}) AS redacted_md5
        FROM p
    """


def _bm25_oracle_sql() -> str:
    from sketch_spark.operators.retrieval import bm25_sql

    return bm25_sql(_BM25_TERMS, k=20)


def _hybrid_oracle_sql() -> str:
    from sketch_spark.operators.retrieval import hybrid_sql

    return hybrid_sql(_BM25_TERMS, query_vec_id=0, k=10, n_candidates=50)


def _rrf_oracle_sql() -> str:
    from sketch_spark.operators.retrieval import rrf_sql

    return rrf_sql(_BM25_TERMS, query_vec_id=0, k=10, n_candidates=50)


def _inverted_index_oracle_sql() -> str:
    from sketch_spark.operators.retrieval import inverted_index_sql

    return inverted_index_sql(max_postings=64)


def _corpus_filter_oracle_sql() -> str:
    from sketch_spark.operators.filtering import corpus_filter_sql

    return corpus_filter_sql()


def _clean_corpus_oracle_sql() -> str:
    from sketch_spark.operators.filtering import clean_corpus_sql

    return clean_corpus_sql()


def _source_quality_oracle_sql() -> str:
    from sketch_spark.operators.filtering import source_quality_report_sql

    return source_quality_report_sql()


def _doc_stats_oracle_sql() -> str:
    from sketch_spark.functions.text import punct_ratio_sql, quality_sql, stopword_ratio_sql

    q = quality_sql("text")
    cols = [f"{q[k]} AS {k}" for k in ("n_chars", "n_tokens", "n_distinct_tokens", "distinct_ratio")]
    cols += [
        f"{stopword_ratio_sql('text')} AS stopword_ratio",
        f"{punct_ratio_sql('text')} AS punct_ratio",
    ]
    return f"SELECT doc_id, {', '.join(cols)} FROM documents WHERE doc_id < 100"


def _lm_perplexity_oracle_sql() -> str:
    from sketch_spark.operators.lm import bigram_lm_perplexity_sql

    return bigram_lm_perplexity_sql(add_k=0.5)


def _corpus_curation_oracle_sql() -> str:
    """The four curation stages composed into ONE SQL statement: the
    clean_corpus oracle (gates + min-id-per-md5) feeds the recursive-CTE
    connected-components dedup (exact all-pairs Jaccard >= 0.4 — the
    same above-the-LSH-knee fixture property q_dedup_corpus relies on),
    the surviving subset refits the add-k bigram LM, and the integer
    rank-bucket formula assigns deciles before the (lang, decile)
    manifest rollup."""
    from sketch_spark.operators.filtering import clean_corpus_sql
    from sketch_spark.operators.lm import bigram_lm_perplexity_sql

    return f"""
        WITH RECURSIVE cleaned AS (
          SELECT d.doc_id, d.lang, d.text
          FROM documents d
          JOIN ({clean_corpus_sql()}) c ON c.doc_id = d.doc_id
        ), dtoks AS (
          SELECT doc_id, {_TOKS} AS t FROM cleaned
        ), sh AS (
          SELECT DISTINCT doc_id,
                 unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                         FOR i IN generate_series(1, len(t)-2)]) AS shingle
          FROM dtoks WHERE len(t) >= 3
        ), sizes AS (
          SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), prs AS (
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE ni / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.4
        ), edges AS (
          SELECT id_a AS u, id_b AS v FROM prs
          UNION ALL
          SELECT id_b, id_a FROM prs
        ), reach(id, r) AS (
          SELECT doc_id, doc_id FROM cleaned
          UNION
          SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
        ), labels AS (
          SELECT id, min(r) AS label FROM reach GROUP BY 1
        ), surv AS (
          SELECT c.doc_id, c.lang, c.text
          FROM cleaned c JOIN labels l ON l.id = c.doc_id
          WHERE l.label = l.id
        ), ppl_tbl AS ({bigram_lm_perplexity_sql(table_expr="surv", add_k=0.5)}
        ), dec AS (
          SELECT doc_id,
                 CAST((row_number() OVER (ORDER BY ppl, doc_id) - 1) * 10
                      // (count(*) OVER ()) + 1 AS INT) AS decile
          FROM ppl_tbl
        )
        SELECT s.lang, d.decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len({tokens_sql("s.text")})) AS BIGINT)
                 AS n_tokens
        FROM surv s JOIN dec d ON d.doc_id = s.doc_id
        GROUP BY 1, 2
    """


def _quality_deciles_oracle_sql() -> str:
    # same rank->bucket integer formula as rank_buckets (NOT ntile,
    # whose remainder rule differs): (rank-1)*10 // N + 1
    from sketch_spark.operators.lm import bigram_lm_perplexity_sql

    return f"""
        WITH ppl_tbl AS ({bigram_lm_perplexity_sql(add_k=0.5)})
        SELECT doc_id, n_bigrams, ppl,
               CAST((row_number() OVER (ORDER BY ppl, doc_id) - 1) * 10
                    // (count(*) OVER ()) + 1 AS INT) AS decile
        FROM ppl_tbl
    """


def _passage_dups_oracle_sql() -> str:
    from sketch_spark.operators.dedup import passage_duplicates_sql

    return passage_duplicates_sql(k=5, window=8, min_shared=2, max_df=20)


def _dup_span_report_oracle_sql() -> str:
    from sketch_spark.operators.dedup import duplicate_ngram_spans_sql

    return duplicate_ngram_spans_sql(n=10, min_count=2)


def _dup_span_removal_oracle_sql() -> str:
    from sketch_spark.operators.dedup import remove_duplicate_spans_sql

    return remove_duplicate_spans_sql(n=10, min_count=2)


def _boilerplate_lines_oracle_sql() -> str:
    from sketch_spark.operators.dedup import boilerplate_lines_sql

    return boilerplate_lines_sql(
        table_expr=_multiline_docs_table(), min_docs=20, min_chars=10
    )


def _line_dedup_oracle_sql() -> str:
    from sketch_spark.operators.dedup import remove_boilerplate_lines_sql

    return remove_boilerplate_lines_sql(
        table_expr=_multiline_docs_table(), min_docs=20, min_chars=10
    )


def _text_normalize_oracle_sql() -> str:
    from sketch_spark.functions.text import normalize_text_sql

    decorated = (
        "'  Élan CAFÉ' || chr(9) || upper(substr(text, 1, 16)) || "
        "'  übermäßig  Ñoño ' || chr(10) || text"
    )
    norm = normalize_text_sql(decorated)
    return f"""
        SELECT doc_id, md5({norm}) AS norm_md5,
               CAST(length({norm}) AS BIGINT) AS n_chars
        FROM documents
    """


def _last_driver_checked() -> dict[str, int]:
    """Newest round in which the driver recorded a CORRECTNESS row for each
    query, read from the repo's CORRECTNESS_r*.json files.  Queries absent
    from every file have never been driver-checked (mapped to -1 by the
    caller).  Tolerant of unreadable/partial files — the rotation is a
    scheduling hint, never a correctness dependency."""
    import glob
    import json
    import re

    repo = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name in rows:
            last[name] = max(last.get(name, rnd), rnd)
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Contract battery.  ORDER MATTERS: the driver's CORRECTNESS capture
    keeps only the first ~50 entries, so the dict is sorted
    least-recently-driver-checked FIRST — key (newest CORRECTNESS_r*.json
    round containing the query, -1 if never checked; then name) — so every
    round re-verifies the 50 stalest driver rows against current code
    instead of freezing on one window (VERDICT r4 #1).
    tests/test_contract.py::test_driver_window_is_lru pins this.
    """
    base = {
        # --- new in round 5 (never driver-checked) ---
        "image_near_dups": q_image_near_dups,
        "video_dups": q_video_dups,
        "audio_near_dups": q_audio_near_dups,
        "link_pagerank": q_link_pagerank,
        "trust_rank": q_trust_rank,
        "link_hits": q_link_hits,
        "pdf_text": q_pdf_text,
        "jpeg_decode": q_jpeg_decode,
        "jpeg_progressive": q_jpeg_progressive,
        "png_variants": q_png_variants,
        # --- new in round 4 (never driver-checked) ---
        "image_decode": q_image_decode,
        "image_decode_resized": q_image_decode_resized,
        "png_decode": q_png_decode,
        "gif_decode": q_gif_decode,
        "wav_decode": q_wav_decode,
        "image_stats": q_image_stats,
        "wav_features": q_wav_features,
        "avi_frames": q_avi_frames,
        "luma_histogram": q_luma_histogram,
        "image_dups": q_image_dups,
        "streaming_luma_histogram": q_streaming_luma_histogram,
        "skewed_host_stats": q_skewed_host_stats,
        "checkpoint_resume": q_checkpoint_resume,
        # --- never driver-checked (missed the r3 50-row window) ---
        "semantic_dedup": q_semantic_dedup,
        "mixture_weights": q_mixture_weights,
        "temperature_sample": q_temperature_sample,
        "quality_deciles": q_quality_deciles,
        "corpus_curation": q_corpus_curation,
        "ivf_topk_indexed": q_ivf_topk_indexed,
        "ivf_topk_exact": q_ivf_topk_exact,
        "lsh_topk_exact": q_lsh_topk_exact,
        "kmeans_cells": q_kmeans_cells,
        "bm25_topk": q_bm25_topk,
        "hybrid_topk": q_hybrid_topk,
        "rrf_topk": q_rrf_topk,
        "inverted_index": q_inverted_index,
        "corpus_filter": q_corpus_filter,
        "clean_corpus": q_clean_corpus,
        "text_normalize": q_text_normalize,
        "passage_dups": q_passage_dups,
        "dup_span_report": q_dup_span_report,
        "dup_span_removal": q_dup_span_removal,
        "boilerplate_lines": q_boilerplate_lines,
        "line_dedup": q_line_dedup,
        "streaming_boilerplate": q_streaming_boilerplate,
        "vocab_coverage": q_vocab_coverage,
        "fd_spectrum": q_fd_spectrum,
        "fd_spectrum_by_label": q_fd_spectrum_by_label,
        "embedding_outliers": q_embedding_outliers,
        "url_dedup": q_url_dedup,
        "lm_perplexity": q_lm_perplexity,
        "source_quality": q_source_quality,
        "incremental_dedup": q_incremental_dedup,
        "incremental_semantic_dedup": q_incremental_semantic_dedup,
        "lsh_tuning": q_lsh_tuning,
        "warc_roundtrip": q_warc_roundtrip,
        "streaming_token_counts": q_streaming_token_counts,
        "streaming_cmcu_snapshot": q_streaming_cmcu_snapshot,
        "streaming_incremental_dedup": q_streaming_incremental_dedup,
        "streaming_events_hourly": q_streaming_events_hourly,
        "events_cube": q_events_cube,
        # --- last driver-checked in r1/r2 (code moved since) ---
        "simhash_near_dups": q_simhash_near_dups,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "ann_cosine_topk": q_ann_cosine_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "ivf_topk": q_ivf_topk,
        "lsh_topk": q_lsh_topk,
        "dedup_corpus": q_dedup_corpus,
        "keyed_stats_by_source": q_keyed_stats_by_source,
        "bloom_semi_join": q_bloom_semi_join,
        "html_roundtrip": q_html_roundtrip,
        "bpe_token_counts": q_bpe_token_counts,
        "winnow_fingerprints": q_winnow_fingerprints,
        "rollup_daily": q_rollup_daily,
        # --- driver-checked green in r3 (rotate to the tail) ---
        "token_counts": q_token_counts,
        "bigram_counts": q_bigram_counts,
        "emerging_hh": q_emerging_hh,
        "emerging_bigrams": q_emerging_bigrams,
        "distinct_tokens_by_lang": q_distinct_tokens_by_lang,
        "doc_stats": q_doc_stats,
        "repetition_stats": q_repetition_stats,
        "pii_scan": q_pii_scan,
        "url_normalize": q_url_normalize,
        "domain_rollup": q_domain_rollup,
        "token_chunks": q_token_chunks,
        "training_shards": q_training_shards,
        "nb_classifier": q_nb_classifier,
        "bpe_train_encode": q_bpe_train_encode,
        "decontaminate": q_decontaminate,
        "lang_id": q_lang_id,
        "lang_id_ngram": q_lang_id_ngram,
        "doc_fingerprint": q_doc_fingerprint,
        "exact_dedup": q_exact_dedup,
        "multimodal_meta": q_multimodal_meta,
        "events_hourly": q_events_hourly,
        "events_distinct_users": q_events_distinct_users,
        "events_sessions": q_events_sessions,
        "events_top_users": q_events_top_users,
        "decayed_topk": q_decayed_topk,
        "tpch_q1": q_tpch_q1,
        "revenue_by_region": q_revenue_by_region,
        "price_quantiles": q_price_quantiles,
        "tpch_rollup": q_tpch_rollup,
        "bigram_except": q_bigram_except,
        "events_daily_pivot": q_events_daily_pivot,
        "cmcu_estimates": q_cmcu_estimates,
        "mg_heavy_hitters": q_mg_heavy_hitters,
        "countsketch_estimates": q_countsketch_estimates,
        "hll_distinct_by_lang": q_hll_distinct_by_lang,
        "kll_price_quantiles": q_kll_price_quantiles,
        "tdigest_value_quantiles": q_tdigest_value_quantiles,
        "bloom_membership": q_bloom_membership,
        "minhash_near_dups": q_minhash_near_dups,
        "simhash": q_simhash,
        "simhash_md5": q_simhash_md5,
        "top_df_tokens": q_top_df_tokens,
        "tfidf_top_terms": q_tfidf_top_terms,
        "train_val_test_split": q_train_val_test_split,
        "leakage_safe_split": q_leakage_safe_split,
        "sample_per_source": q_sample_per_source,
        "bottomk_sample": q_bottomk_sample,
        "kmv_distinct_by_lang": q_kmv_distinct_by_lang,
        "kmv_lang_similarity": q_kmv_lang_similarity,
        "hll_lang_overlap": q_hll_lang_overlap,
    }
    last = _last_driver_checked()
    return dict(sorted(base.items(), key=lambda kv: (last.get(kv[0], -1), kv[0])))


# exact cosine top-5: the oracle for ann_cosine_topk (brute force) AND
# ivf_topk_exact (all-cells probe of the stored index — same answer)
_COSINE_TOPK_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
         sims AS (
           SELECT q.query_id, c.vec_id,
                  round(list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
           FROM q CROSS JOIN c
         )
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id, sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, vec_id ASC) AS rank
      FROM sims
    ) WHERE rank <= 5
"""

# per-doc distinct word 3-shingles of the documents: CTEs toks -> sh
_SHINGLES3_CTE = f"""toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                     FOR i IN generate_series(1, len(t)-2)]) AS shingle
      FROM toks WHERE len(t) >= 3
    )"""

# exact cross-half Jaccard pairs: the oracle for BOTH incremental_dedup
# (batch) and streaming_incremental_dedup (same probe, micro-batched)
_INCREMENTAL_DEDUP_SQL = f"""
    WITH {_SHINGLES3_CTE}, sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS id_new, b.doc_id AS id_old, count(*) AS ni
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
      GROUP BY 1, 2
    )
    SELECT id_new, id_old,
           round(ni / CAST(sa.n + sb.n - ni AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_new
    JOIN sizes sb ON sb.doc_id = id_old
    WHERE ni / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.4
"""

_TOKEN_COUNTS_SQL = f"""
    SELECT tok AS token, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
    GROUP BY tok HAVING count(*) >= 200
"""


def oracle_sql() -> dict[str, str]:
    from sketch_spark.functions.text import (
        bpe_ish_tokens_sql,
        lang_id_ngram_sql,
        lang_id_sql,
        repetition_sql,
        simhash_md5_sql,
    )

    return {
        "link_pagerank": _pagerank_oracle_sql(n_iter=6, damping=85, unit=10**12),
        "trust_rank": _pagerank_oracle_sql(
            n_iter=6, damping=85, unit=10**12, seed_tmpl="({c} % 16 = 0)"
        ),
        "link_hits": _hits_oracle_sql(n_iter=5, unit=10**9),
        "token_counts": _TOKEN_COUNTS_SQL,
        "bigram_counts": f"""
            WITH toks AS (
              SELECT doc_id,
                     unnest({_TOKS}) AS tok,
                     generate_subscripts({_TOKS}, 1) AS pos
              FROM documents
            )
            SELECT a.tok || ' ' || b.tok AS bigram, CAST(count(*) AS BIGINT) AS cnt
            FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            GROUP BY 1 HAVING count(*) >= 25
        """,
        "emerging_hh": f"""
            WITH tc AS (
              SELECT tok, count(*) AS cnt
              FROM (SELECT unnest({_TOKS}) AS tok
                    FROM documents
                    WHERE source NOT IN ('src15','src16','src17','src18','src19'))
              GROUP BY tok
            ), cc AS (
              SELECT tok, count(*) AS cnt
              FROM (SELECT unnest({_TOKS}) AS tok
                    FROM documents
                    WHERE source IN ('src15','src16','src17','src18','src19'))
              GROUP BY tok
            )
            SELECT tc.tok AS token, CAST(tc.cnt AS BIGINT) AS freq,
                   CAST(COALESCE(cc.cnt, 0) AS BIGINT) AS control_count
            FROM tc LEFT JOIN cc USING (tok)
            WHERE tc.cnt >= 100 AND tc.cnt / 2.0 > COALESCE(cc.cnt, 0)
        """,
        "emerging_bigrams": f"""
            WITH toks AS (
              SELECT doc_id, source,
                     unnest({_TOKS}) AS tok,
                     generate_subscripts({_TOKS}, 1) AS pos
              FROM documents
            ), bg AS (
              SELECT a.source, a.tok || ' ' || b.tok AS bigram
              FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            ), tc AS (
              SELECT bigram, count(*) AS cnt FROM bg
              WHERE source NOT IN ('src15','src16','src17','src18','src19')
              GROUP BY bigram
            ), cc AS (
              SELECT bigram, count(*) AS cnt FROM bg
              WHERE source IN ('src15','src16','src17','src18','src19')
              GROUP BY bigram
            )
            SELECT tc.bigram AS token, CAST(tc.cnt AS BIGINT) AS freq,
                   CAST(COALESCE(cc.cnt, 0) AS BIGINT) AS control_count
            FROM tc LEFT JOIN cc USING (bigram)
            WHERE tc.cnt >= 25 AND tc.cnt / 2.0 > COALESCE(cc.cnt, 0)
        """,
        "distinct_tokens_by_lang": f"""
            SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
            FROM (SELECT lang, unnest({_TOKS}) AS tok FROM documents)
            GROUP BY lang
        """,
        "doc_stats": _doc_stats_oracle_sql(),
        "repetition_stats": repetition_sql(),
        "pii_scan": _pii_oracle_sql(),
        "url_normalize": _url_oracle_sql(rollup=False),
        "url_dedup": _url_dedup_oracle_sql(),
        "domain_rollup": _url_oracle_sql(rollup=True),
        "token_chunks": f"""
            WITH c AS (
              SELECT doc_id,
                     CAST(len({_TOKS}) AS BIGINT) AS n_tokens
              FROM documents
            ), o AS (
              SELECT doc_id, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
              FROM c
            )
            SELECT doc_id, n_tokens, start_off,
                   CAST(start_off // 512 AS BIGINT) AS first_chunk,
                   CAST(greatest((start_off + n_tokens - 1) // 512, start_off // 512) AS BIGINT) AS last_chunk,
                   CAST(greatest((start_off + n_tokens - 1) // 512, start_off // 512)
                        - start_off // 512 + 1 AS BIGINT) AS n_chunks
            FROM o
        """,
        "training_shards": _shard_manifest_oracle(),
        "nb_classifier": _nb_classifier_oracle(),
        "decontaminate": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), grams AS (
              SELECT doc_id,
                     unnest(list_distinct(
                       [array_to_string(t[i:i+3], ' ') FOR i IN generate_series(1, len(t) - 3)]
                     )) AS gram
              FROM toks WHERE len(t) >= 4
            ), test_grams AS (
              SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0
            )
            SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_shared
            FROM grams JOIN test_grams USING (gram)
            WHERE doc_id % 10 <> 0
            GROUP BY doc_id
        """,
        "mg_heavy_hitters": f"""
            WITH tt AS (
              SELECT unnest({_TOKS}) AS tok FROM documents
            )
            SELECT tok AS token, CAST(count(*) AS BIGINT) AS cnt
            FROM tt GROUP BY tok
            HAVING count(*) * 201 > (SELECT count(*) FROM tt)
        """,
        "lang_id": lang_id_sql(),
        "lang_id_ngram": lang_id_ngram_sql(),
        "doc_fingerprint": "SELECT doc_id, md5(lower(text)) AS fingerprint FROM documents",
        "exact_dedup": """
            SELECT md5(text) AS content_md5, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS keep_id
            FROM documents GROUP BY 1
        """,
        # mirrors _synth_images' md5-hex construction: a PPM raster IS the
        # unhexed stream, so its decoded-RGB hex == the hex stream itself;
        # a PGM gray byte expands to RGB = each hex PAIR tripled
        "image_decode": """
            WITH src AS (
                SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
                       md5('img-' || CAST(doc_id AS VARCHAR)) AS mh,
                       doc_id % 2 = 0 AS is_ppm
                FROM documents
            )
            SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CASE WHEN is_ppm THEN 'ppm' ELSE 'pgm' END AS format,
                   CASE WHEN is_ppm
                        THEN md5(substr(repeat(mh, 7), 1, 6 * w * h))
                        ELSE md5(list_aggregate(
                            [repeat(substr(repeat(mh, 7), 2 * i - 1, 2), 3)
                             FOR i IN generate_series(1, CAST(w * h AS INT))],
                            'string_agg', ''))
                   END AS pixel_md5
            FROM src
        """,
        # the PNG pipeline (deflate + scanline filters) is invisible to
        # the oracle: it predicts the DECODED raster straight from the
        # md5-hex arithmetic, so the round trip itself is under test
        "png_decode": """
            WITH src AS (
                SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
                       md5('img-' || CAST(doc_id AS VARCHAR)) AS mh,
                       doc_id % 2 = 0 AS is_rgb
                FROM documents
            )
            SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   'png' AS format,
                   CASE WHEN is_rgb
                        THEN md5(substr(repeat(mh, 7), 1, 6 * w * h))
                        ELSE md5(list_aggregate(
                            [repeat(substr(repeat(mh, 7), 2 * i - 1, 2), 3)
                             FOR i IN generate_series(1, CAST(w * h AS INT))],
                            'string_agg', ''))
                   END AS pixel_md5
            FROM src
        """,
        # identity-gray palette: decoded RGB = each md5-hex index byte
        # tripled, so the LZW+deinterlace round trip hides behind the
        # same gray-expansion SQL as pgm/png-gray
        "gif_decode": """
            WITH src AS (
                SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
                       md5('img-' || CAST(doc_id AS VARCHAR)) AS mh
                FROM documents
            )
            SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   'gif' AS format,
                   md5(list_aggregate(
                       [repeat(substr(repeat(mh, 7), 2 * i - 1, 2), 3)
                        FOR i IN generate_series(1, CAST(w * h AS INT))],
                       'string_agg', '')) AS pixel_md5
            FROM src
        """,
        # 2x2 nearest-neighbor picks pixels (0,0) (0,w//2) (h//2,0)
        # (h//2,w//2); each pixel is 6 hex chars at offset 6*(r*w+c)
        "image_decode_resized": """
            WITH src AS (
                SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
                       substr(repeat(md5('img-' || CAST(doc_id AS VARCHAR)), 7),
                              1, CAST(6 * (3 + doc_id % 5) * (2 + doc_id % 4) AS INT)) AS ph
                FROM documents
            )
            SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   'ppm' AS format,
                   md5(substr(ph, 1, 6)
                       || substr(ph, 6 * (w // 2) + 1, 6)
                       || substr(ph, 6 * ((h // 2) * w) + 1, 6)
                       || substr(ph, 6 * ((h // 2) * w + w // 2) + 1, 6)) AS pixel_md5
            FROM src
        """,
        "wav_decode": """
            SELECT doc_id,
                   CAST(CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 1 END AS INT) AS channels,
                   CAST(CASE WHEN doc_id % 2 = 1 THEN 44100 ELSE 8000 END AS INT)
                       AS sample_rate,
                   CAST(1 + doc_id % 4 AS INT) AS bytes_per_sample,
                   CAST(16 + (doc_id % 9) * 2 AS INT) AS n_pcm_bytes,
                   md5(substr(repeat(md5('wav-' || CAST(doc_id AS VARCHAR)), 2), 1,
                       CAST((16 + (doc_id % 9) * 2) * 2 AS INT))) AS pcm_md5
            FROM documents
        """,
        # Adam7 reorders scanlines and 16-bit doubles them, but decoded
        # pixels are the SOURCE hex either way; the 4-bit variant is
        # (v % 16) * 17 gray-expanded — all from the md5 arithmetic
        "png_variants": """
            WITH src AS (
                SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
                       repeat(md5('pv-' || CAST(doc_id AS VARCHAR)), 7) AS ph,
                       doc_id % 3 AS variant
                FROM documents
            )
            SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   'png' AS format,
                   CASE WHEN variant IN (0, 1)
                        THEN md5(substr(ph, 1, 6 * w * h))
                        ELSE md5(list_aggregate(
                            [repeat(printf('%02x',
                                 (CAST(concat('0x', substr(ph, 2 * i - 1, 2))
                                       AS INT) % 16) * 17), 3)
                             FOR i IN generate_series(1, CAST(w * h AS INT))],
                            'string_agg', ''))
                   END AS pixel_md5
            FROM src
        """,
        # lossy-codec oracle: the decoded pixel of a solid tile is the
        # exact integer clamp(2*round_half_away((v-128)/2)+128) — the
        # DC quantization (Annex K q00=16) in plain SQL arithmetic;
        # printf('%02x') rebuilds the hex the engine hashes
        "jpeg_decode": """
            WITH src AS (
                SELECT doc_id,
                       1 + doc_id % 2 AS bw,
                       1 + (doc_id // 2) % 2 AS bh,
                       md5('jpg-' || CAST(doc_id AS VARCHAR)) AS mh
                FROM documents
            )
            SELECT doc_id,
                   CAST(8 * bw AS INT) AS width,
                   CAST(8 * bh AS INT) AS height,
                   'jpeg' AS format,
                   md5(list_aggregate(
                       [ repeat(printf('%02x',
                           LEAST(255, GREATEST(0, 128 + 2 * (CASE
                             WHEN CAST(concat('0x', substr(mh,
                                 2 * ((((i - 1) // (8 * bw)) // 8) * bw
                                      + (((i - 1) % (8 * bw)) // 8)) + 1,
                                 2)) AS INT) >= 128
                             THEN (CAST(concat('0x', substr(mh,
                                 2 * ((((i - 1) // (8 * bw)) // 8) * bw
                                      + (((i - 1) % (8 * bw)) // 8)) + 1,
                                 2)) AS INT) - 127) // 2
                             ELSE -((129 - CAST(concat('0x', substr(mh,
                                 2 * ((((i - 1) // (8 * bw)) // 8) * bw
                                      + (((i - 1) % (8 * bw)) // 8)) + 1,
                                 2)) AS INT)) // 2)
                           END)))), 3)
                         FOR i IN generate_series(1, CAST(64 * bw * bh AS INT)) ],
                       'string_agg', '')) AS pixel_md5
            FROM src
        """,
        # progressive twin: identical quantized coefficients, so the
        # SAME solid-tile DC arithmetic predicts the SOF2 decode
        "jpeg_progressive": """
            WITH src AS (
                SELECT doc_id,
                       1 + doc_id % 2 AS bw,
                       1 + (doc_id // 2) % 2 AS bh,
                       md5('jpgp-' || CAST(doc_id AS VARCHAR)) AS mh
                FROM documents
            )
            SELECT doc_id,
                   CAST(8 * bw AS INT) AS width,
                   CAST(8 * bh AS INT) AS height,
                   'jpeg' AS format,
                   md5(list_aggregate(
                       [ repeat(printf('%02x',
                           LEAST(255, GREATEST(0, 128 + 2 * (CASE
                             WHEN CAST(concat('0x', substr(mh,
                                 2 * ((((i - 1) // (8 * bw)) // 8) * bw
                                      + (((i - 1) % (8 * bw)) // 8)) + 1,
                                 2)) AS INT) >= 128
                             THEN (CAST(concat('0x', substr(mh,
                                 2 * ((((i - 1) // (8 * bw)) // 8) * bw
                                      + (((i - 1) % (8 * bw)) // 8)) + 1,
                                 2)) AS INT) - 127) // 2
                             ELSE -((129 - CAST(concat('0x', substr(mh,
                                 2 * ((((i - 1) // (8 * bw)) // 8) * bw
                                      + (((i - 1) % (8 * bw)) // 8)) + 1,
                                 2)) AS INT)) // 2)
                           END)))), 3)
                         FOR i IN generate_series(1, CAST(64 * bw * bh AS INT)) ],
                       'string_agg', '')) AS pixel_md5
            FROM src
        """,
        # the oracle never sees a PDF byte: it re-derives the page
        # strings from the same 40-char substring arithmetic, so the
        # literal-escape + FlateDecode round trip sits under the hash
        "pdf_text": """
            SELECT doc_id,
                   CAST(1 + doc_id % 3 AS INT) AS n_pages,
                   CAST(3 + 2 * (1 + doc_id % 3) AS INT) AS n_objects,
                   CASE CAST(1 + doc_id % 3 AS INT)
                     WHEN 1 THEN substr(coalesce(text, ''), 1, 40)
                     WHEN 2 THEN substr(coalesce(text, ''), 1, 40) || chr(10)
                               || substr(coalesce(text, ''), 41, 40)
                     ELSE substr(coalesce(text, ''), 1, 40) || chr(10)
                               || substr(coalesce(text, ''), 41, 40) || chr(10)
                               || substr(coalesce(text, ''), 81, 40)
                   END AS text
            FROM documents
        """,
        # full perceptual pipeline mirrored in SQL: 8x8 floor-map sample
        # (form 1 composes the twin's 2x upscale map — identical by the
        # nested-floor identity), division-free mean-threshold bits,
        # 16-bit LSB-first bands, capped-bucket band join, bit_count
        # Hamming verify — byte-for-byte the engine's rule
        "image_near_dups": """
            WITH src AS (
              SELECT doc_id, doc_id % 151 AS seed, doc_id % 3 AS form FROM documents
            ), dims AS (
              SELECT doc_id, seed, form,
                     8 + seed % 5 AS w, 8 + seed % 3 AS h,
                     repeat(md5('nd-' || CAST(seed AS VARCHAR)), 23) AS ph
              FROM src
            ), lum AS (
              SELECT doc_id,
                [ CASE WHEN form = 1 THEN
                    CAST(concat('0x', substr(ph, 6*(((((m//8)*2*h)//8)//2)*w + ((((m%8)*2*w)//8)//2)) + 1, 2)) AS INT)
                  + CAST(concat('0x', substr(ph, 6*(((((m//8)*2*h)//8)//2)*w + ((((m%8)*2*w)//8)//2)) + 3, 2)) AS INT)
                  + CAST(concat('0x', substr(ph, 6*(((((m//8)*2*h)//8)//2)*w + ((((m%8)*2*w)//8)//2)) + 5, 2)) AS INT)
                  WHEN form = 2 THEN
                    (CAST(concat('0x', substr(ph, 6*((((m//8)*h)//8)*w + (((m%8)*w)//8)) + 1, 2)) AS INT) // 4) * 4
                  + (CAST(concat('0x', substr(ph, 6*((((m//8)*h)//8)*w + (((m%8)*w)//8)) + 3, 2)) AS INT) // 4) * 4
                  + (CAST(concat('0x', substr(ph, 6*((((m//8)*h)//8)*w + (((m%8)*w)//8)) + 5, 2)) AS INT) // 4) * 4
                  ELSE
                    CAST(concat('0x', substr(ph, 6*((((m//8)*h)//8)*w + (((m%8)*w)//8)) + 1, 2)) AS INT)
                  + CAST(concat('0x', substr(ph, 6*((((m//8)*h)//8)*w + (((m%8)*w)//8)) + 3, 2)) AS INT)
                  + CAST(concat('0x', substr(ph, 6*((((m//8)*h)//8)*w + (((m%8)*w)//8)) + 5, 2)) AS INT)
                  END
                  FOR m IN generate_series(0, 63) ] AS lums
              FROM dims
            ), sig AS (
              SELECT doc_id, lums, list_sum(lums) AS total FROM lum
            ), bands AS (
              SELECT doc_id,
                [ CAST(list_sum([CASE WHEN 64 * lums[16*k + t + 1] > total
                                      THEN (1 << t) ELSE 0 END
                                 FOR t IN generate_series(0, 15)]) AS INT)
                  FOR k IN generate_series(0, 3) ] AS bl
              FROM sig
            ), b AS (
              SELECT doc_id, unnest([0,1,2,3]) AS band_idx, unnest(bl) AS band_val FROM bands
            ), ok AS (
              SELECT band_idx, band_val FROM b GROUP BY 1, 2 HAVING count(*) <= 256
            ), cand AS (
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM b x
              JOIN ok o ON x.band_idx = o.band_idx AND x.band_val = o.band_val
              JOIN b y ON y.band_idx = o.band_idx AND y.band_val = o.band_val
              WHERE x.doc_id < y.doc_id
            ), ham AS (
              SELECT id_a, id_b,
                     CAST(bit_count(xor(ba.bl[1], bb.bl[1])) + bit_count(xor(ba.bl[2], bb.bl[2]))
                        + bit_count(xor(ba.bl[3], bb.bl[3])) + bit_count(xor(ba.bl[4], bb.bl[4])) AS INT) AS hamming
              FROM cand
              JOIN bands ba ON ba.doc_id = id_a
              JOIN bands bb ON bb.doc_id = id_b
            )
            SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 6
        """,
        # the oracle never sees the RIFF container or the fps metadata:
        # it predicts each SAMPLED frame's hash (idx_j = j*n//2 when
        # n > 2, all frames otherwise) and rebuilds the clip signature
        "video_dups": """
            WITH src AS (
              SELECT doc_id, doc_id % 97 AS seed FROM documents
            ), dims AS (
              SELECT doc_id, seed, 3 + seed % 5 AS w, 2 + seed % 4 AS h,
                     2 + seed % 3 AS n
              FROM src
            ), sig AS (
              SELECT doc_id, w, h, n,
                md5(list_aggregate(
                  [ md5(substr(repeat(md5('vid-' || CAST(seed AS VARCHAR) || '-' ||
                         CAST(CASE WHEN n <= 2 THEN j ELSE (j*n)//2 END AS VARCHAR)), 7),
                         1, CAST(6*w*h AS INT)))
                    FOR j IN generate_series(0, CAST(least(n, 2) - 1 AS INT)) ],
                  'string_agg', '')) AS clip_md5
              FROM dims
            )
            SELECT CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(n AS INT) AS n_frames, clip_md5,
                   CAST(count(*) AS BIGINT) AS n_copies,
                   CAST(min(doc_id) AS BIGINT) AS survivor
            FROM sig GROUP BY 1, 2, 3, 4 HAVING count(*) > 1
        """,
        # the audio twin of image_near_dups: 256 floor-mapped probes of
        # |sample| from the md5-hex arithmetic (form 1's doubled stream
        # collapses back by floor nesting), 64 window energies, strict-
        # mean bits, 4x16-bit bands, then the SAME capped banded join +
        # bit_count verify as the image oracle
        "audio_near_dups": """
            WITH src AS (
              SELECT doc_id, doc_id % 151 AS seed, doc_id % 3 AS form FROM documents
            ), p AS (
              SELECT doc_id, seed, form, 96 + seed % 33 AS n,
                     repeat(md5('aud-' || CAST(seed AS VARCHAR)), 8) AS ph
              FROM src
            ), mag AS (
              SELECT doc_id,
                [ CASE WHEN form = 1 THEN
                    abs((CAST(concat('0x', substr(ph, 2*(((q*2*n)//256)//2) + 1, 2)) AS INT) - 128) * 16)
                  WHEN form = 2 THEN
                    abs((CAST(concat('0x', substr(ph, 2*((q*n)//256) + 1, 2)) AS INT) // 2 - 64) * 32)
                  ELSE
                    abs((CAST(concat('0x', substr(ph, 2*((q*n)//256) + 1, 2)) AS INT) - 128) * 16)
                  END
                  FOR q IN generate_series(0, 255) ] AS mags
              FROM p
            ), env AS (
              SELECT doc_id,
                [ mags[4*j+1] + mags[4*j+2] + mags[4*j+3] + mags[4*j+4]
                  FOR j IN generate_series(0, 63) ] AS e
              FROM mag
            ), sig AS (
              SELECT doc_id, e, list_sum(e) AS total FROM env
            ), bands AS (
              SELECT doc_id,
                [ CAST(list_sum([CASE WHEN 64 * e[16*k + t + 1] > total
                                      THEN (1 << t) ELSE 0 END
                                 FOR t IN generate_series(0, 15)]) AS INT)
                  FOR k IN generate_series(0, 3) ] AS bl
              FROM sig
            ), b AS (
              SELECT doc_id, unnest([0,1,2,3]) AS band_idx, unnest(bl) AS band_val FROM bands
            ), ok AS (
              SELECT band_idx, band_val FROM b GROUP BY 1, 2 HAVING count(*) <= 256
            ), cand AS (
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM b x
              JOIN ok o ON x.band_idx = o.band_idx AND x.band_val = o.band_val
              JOIN b y ON y.band_idx = o.band_idx AND y.band_val = o.band_val
              WHERE x.doc_id < y.doc_id
            ), ham AS (
              SELECT id_a, id_b,
                     CAST(bit_count(xor(ba.bl[1], bb.bl[1])) + bit_count(xor(ba.bl[2], bb.bl[2]))
                        + bit_count(xor(ba.bl[3], bb.bl[3])) + bit_count(xor(ba.bl[4], bb.bl[4])) AS INT) AS hamming
              FROM cand
              JOIN bands ba ON ba.doc_id = id_a
              JOIN bands bb ON bb.doc_id = id_b
            )
            SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        """,
        # pixel-content groups come straight from the seed arithmetic;
        # the PPM/PNG container split is invisible to the oracle
        "image_dups": """
            WITH src AS (
                SELECT doc_id, doc_id % 260 AS seed FROM documents
            ), grp AS (
                SELECT seed, CAST(count(*) AS BIGINT) AS n_copies,
                       CAST(min(doc_id) AS BIGINT) AS survivor
                FROM src GROUP BY seed HAVING count(*) > 1
            )
            SELECT CAST(3 + seed % 5 AS INT) AS width,
                   CAST(2 + seed % 4 AS INT) AS height,
                   md5(substr(repeat(md5('img-' || CAST(seed AS VARCHAR)), 7), 1,
                       CAST(6 * (3 + seed % 5) * (2 + seed % 4) AS INT))) AS pixel_md5,
                   n_copies, survivor
            FROM grp
        """,
        # streaming==batch exactly: same blobs, same arithmetic as
        # luma_histogram — the fold is associative integer addition
        "streaming_luma_histogram": """
            WITH src AS (
                SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
                       repeat(md5('img-' || CAST(doc_id AS VARCHAR)), 7) AS ph,
                       doc_id % 2 = 0 AS is_ppm
                FROM documents
            ), lum AS (
                SELECT unnest(CASE WHEN is_ppm THEN
                    [CAST(concat('0x', substr(ph, 6*(i-1)+1, 2)) AS INT)
                     + CAST(concat('0x', substr(ph, 6*(i-1)+3, 2)) AS INT)
                     + CAST(concat('0x', substr(ph, 6*(i-1)+5, 2)) AS INT)
                     FOR i IN generate_series(1, CAST(w*h AS INT))]
                ELSE
                    [3 * CAST(concat('0x', substr(ph, 2*i-1, 2)) AS INT)
                     FOR i IN generate_series(1, CAST(w*h AS INT))]
                END) AS v
                FROM src
            )
            SELECT CAST(v * 8 // 766 AS INT) AS bin,
                   CAST(count(*) AS BIGINT) AS n_pixels
            FROM lum GROUP BY 1 ORDER BY 1
        """,
        # corpus-level aggregate over decoded pixels: unnest the same
        # md5-hex luma stream and group by the identical bin arithmetic
        "luma_histogram": """
            WITH src AS (
                SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
                       repeat(md5('img-' || CAST(doc_id AS VARCHAR)), 7) AS ph,
                       doc_id % 2 = 0 AS is_ppm
                FROM documents
            ), lum AS (
                SELECT unnest(CASE WHEN is_ppm THEN
                    [CAST(concat('0x', substr(ph, 6*(i-1)+1, 2)) AS INT)
                     + CAST(concat('0x', substr(ph, 6*(i-1)+3, 2)) AS INT)
                     + CAST(concat('0x', substr(ph, 6*(i-1)+5, 2)) AS INT)
                     FOR i IN generate_series(1, CAST(w*h AS INT))]
                ELSE
                    [3 * CAST(concat('0x', substr(ph, 2*i-1, 2)) AS INT)
                     FOR i IN generate_series(1, CAST(w*h AS INT))]
                END) AS v
                FROM src
            )
            SELECT CAST(v * 8 // 766 AS INT) AS bin,
                   CAST(count(*) AS BIGINT) AS n_pixels
            FROM lum GROUP BY 1 ORDER BY 1
        """,
        # one row per (doc, frame): the oracle never sees the RIFF
        # container — it predicts each frame's RGB hash directly
        "avi_frames": """
            WITH src AS (
                SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
                       unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS frame_idx
                FROM documents
            )
            SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   md5(substr(repeat(md5('img-' || CAST(doc_id AS VARCHAR) || '-'
                                         || CAST(frame_idx AS VARCHAR)), 7),
                              1, CAST(6 * w * h AS INT))) AS frame_md5
            FROM src
        """,
        # every value integer-exact: hex pairs -> INTs summed as
        # BIGINT, min/max luma over (r+g+b); PGM rows triple the gray
        "image_stats": """
            WITH src AS (
                SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h,
                       repeat(md5('img-' || CAST(doc_id AS VARCHAR)), 7) AS ph,
                       doc_id % 2 = 0 AS is_ppm
                FROM documents
            ), px AS (
                SELECT doc_id, w, h,
                    CASE WHEN is_ppm THEN
                        [[CAST(concat('0x', substr(ph, 6*(i-1)+1, 2)) AS INT),
                          CAST(concat('0x', substr(ph, 6*(i-1)+3, 2)) AS INT),
                          CAST(concat('0x', substr(ph, 6*(i-1)+5, 2)) AS INT)]
                         FOR i IN generate_series(1, CAST(w*h AS INT))]
                    ELSE
                        [[CAST(concat('0x', substr(ph, 2*i-1, 2)) AS INT),
                          CAST(concat('0x', substr(ph, 2*i-1, 2)) AS INT),
                          CAST(concat('0x', substr(ph, 2*i-1, 2)) AS INT)]
                         FOR i IN generate_series(1, CAST(w*h AS INT))]
                    END AS pxl
                FROM src
            )
            SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(w*h AS INT) AS n_px,
                   CAST(list_sum([p[1] FOR p IN pxl]) AS BIGINT) AS sum_r,
                   CAST(list_sum([p[2] FOR p IN pxl]) AS BIGINT) AS sum_g,
                   CAST(list_sum([p[3] FOR p IN pxl]) AS BIGINT) AS sum_b,
                   CAST(list_min([p[1]+p[2]+p[3] FOR p IN pxl]) AS INT) AS min_lum,
                   CAST(list_max([p[1]+p[2]+p[3] FOR p IN pxl]) AS INT) AS max_lum
            FROM px
        """,
        # little-endian signed PCM reconstruction per width (1 + doc_id
        # % 4 bytes/sample), normalized to the common 16-bit scale the
        # engine uses: 8-bit recenters ((b-128)*256), 16-bit is lo +
        # 256*hi sign-corrected, 24/32-bit sign-correct then
        # arithmetic-shift down via floor(x / 2^k) — exact in doubles
        # because |x| < 2^32 and the divisor is a power of two
        "wav_features": """
            WITH src AS (
                SELECT doc_id, CAST(16 + (doc_id % 9) * 2 AS INT) AS nb,
                       CAST(1 + doc_id % 4 AS INT) AS sw,
                       repeat(md5('wav-' || CAST(doc_id AS VARCHAR)), 2) AS ph
                FROM documents
            ), vs AS (
                SELECT doc_id, nb, sw,
                    CASE sw
                    WHEN 1 THEN
                        [(CAST(concat('0x', substr(ph, 2*j-1, 2)) AS INT) - 128) * 256
                         FOR j IN generate_series(1, nb)]
                    WHEN 2 THEN
                        [CAST(concat('0x', substr(ph, 4*(j-1)+1, 2)) AS INT)
                         + 256 * CAST(concat('0x', substr(ph, 4*(j-1)+3, 2)) AS INT)
                         - CASE WHEN CAST(concat('0x', substr(ph, 4*(j-1)+3, 2)) AS INT)
                                     >= 128 THEN 65536 ELSE 0 END
                         FOR j IN generate_series(1, nb // 2)]
                    WHEN 3 THEN
                        [CAST(floor((CAST(concat('0x', substr(ph, 6*(j-1)+1, 2)) AS INT)
                            + 256 * CAST(concat('0x', substr(ph, 6*(j-1)+3, 2)) AS INT)
                            + 65536 * CAST(concat('0x', substr(ph, 6*(j-1)+5, 2)) AS INT)
                            - CASE WHEN CAST(concat('0x', substr(ph, 6*(j-1)+5, 2)) AS INT)
                                        >= 128 THEN 16777216 ELSE 0 END) / 256.0) AS INT)
                         FOR j IN generate_series(1, nb // 3)]
                    ELSE
                        [CAST(floor((CAST(concat('0x', substr(ph, 8*(j-1)+1, 2)) AS INT)
                            + 256 * CAST(concat('0x', substr(ph, 8*(j-1)+3, 2)) AS INT)
                            + 65536 * CAST(concat('0x', substr(ph, 8*(j-1)+5, 2)) AS INT)
                            + 16777216 * CAST(concat('0x', substr(ph, 8*(j-1)+7, 2)) AS BIGINT)
                            - CASE WHEN CAST(concat('0x', substr(ph, 8*(j-1)+7, 2)) AS INT)
                                        >= 128 THEN 4294967296 ELSE 0 END) / 65536.0) AS INT)
                         FOR j IN generate_series(1, nb // 4)]
                    END AS v
                FROM src
            )
            SELECT doc_id, CAST(len(v) AS INT) AS n_samples,
                   CAST(list_sum([x*x FOR x IN v]) AS BIGINT) AS sumsq,
                   CAST(list_max([abs(x) FOR x IN v]) AS INT) AS peak,
                   CAST(len([1 FOR j IN generate_series(2, len(v))
                             IF (v[j] < 0) != (v[j-1] < 0)]) AS INT) AS zero_crossings
            FROM vs
        """,
        "multimodal_meta": """
            SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS content_md5,
                   CASE WHEN substr(text, 1, 4) IN ('<htm', '<!DO') THEN 'html'
                        WHEN substr(text, 1, 4) = 'RIFF' THEN 'riff'
                        WHEN substr(text, 1, 4) = 'GIF8' THEN 'gif'
                        WHEN substr(text, 1, 4) = '%PDF' THEN 'pdf'
                        ELSE 'unknown' END AS format
            FROM documents
        """,
        "events_hourly": """
            SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
                   CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        # identical semantics by design: the streaming windowed agg's
        # complete-mode snapshot must equal the batch hourly rollup
        "streaming_events_hourly": """
            SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
                   CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_cube": """
            SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(GROUPING(strftime(ts, '%Y-%m-%d')) * 2
                        + GROUPING(event_type) AS INT) AS gid
            FROM events GROUP BY CUBE (1, 2)
        """,
        "events_distinct_users": """
            SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events GROUP BY 1
        """,
        "events_sessions": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events
            )
            SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM g GROUP BY user_id
        """,
        "events_top_users": """
            WITH per_user AS (
              SELECT event_type, user_id, round(sum(value), 2) AS total_value
              FROM events GROUP BY 1, 2
            )
            SELECT event_type, CAST(rank AS INT) AS rank, user_id, total_value FROM (
              SELECT *, row_number() OVER (PARTITION BY event_type
                         ORDER BY total_value DESC, user_id ASC) AS rank
              FROM per_user
            ) WHERE rank <= 3
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_region": """
            SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "tpch_rollup": """
            SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
                   COALESCE(l_linestatus, 'ALL') AS linestatus,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(l_extendedprice), 2) AS sum_price
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "bigram_except": f"""
            WITH toks AS (
              SELECT doc_id, source,
                     unnest({_TOKS}) AS tok,
                     generate_subscripts({_TOKS}, 1) AS pos
              FROM documents WHERE source IN ('src0', 'src1')
            ), bg AS (
              SELECT DISTINCT a.source, a.tok || ' ' || b.tok AS bigram
              FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            )
            SELECT bigram FROM bg WHERE source = 'src0'
            EXCEPT
            SELECT bigram FROM bg WHERE source = 'src1'
        """,
        "events_daily_pivot": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
                   CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
                   CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
                   CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
                   CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
            FROM events GROUP BY 1
        """,
        "price_quantiles": """
            SELECT round(quantile_cont(l_extendedprice, 0.1), 4) AS p10,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
            FROM lineitem
        """,
        "ngram_jaccard_pairs": f"""
            WITH sh AS (
              SELECT DISTINCT doc_id, unnest({_TOKS}) AS shingle
              FROM documents WHERE doc_id < 100
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.9
        """,
        "ann_cosine_topk": _COSINE_TOPK_SQL,
        # all-cells probe of the stored index is exact by construction:
        # the same brute-force oracle must hold through the index
        # write + partitioned probe read
        "ivf_topk_exact": _COSINE_TOPK_SQL,
        "lsh_topk_exact": _COSINE_TOPK_SQL,
        "embedding_near_dups": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        """,
        # weights rounded to 6 BEFORE rates derive from them, so the
        # doubles agree bit-for-bit across engines (round-at-source rule)
        "mixture_weights": """
            WITH counts AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs
              FROM documents GROUP BY source
            ), tot AS (SELECT sum(pow(n_docs, 0.5)) AS s FROM counts)
            SELECT source, n_docs,
                   round(pow(n_docs, 0.5) / (SELECT s FROM tot), 6) AS weight,
                   round(least(1.0,
                         300.0 * round(pow(n_docs, 0.5) / (SELECT s FROM tot), 6)
                         / n_docs), 6) AS sample_rate
            FROM counts
        """,
        "temperature_sample": """
            WITH counts AS (
              SELECT source, count(*) AS n FROM documents GROUP BY source
            ), tot AS (SELECT sum(pow(n, 0.5)) AS s FROM counts),
            rates AS (
              SELECT source,
                     round(least(1.0,
                           300.0 * round(pow(n, 0.5) / (SELECT s FROM tot), 6) / n),
                           6) AS rate
              FROM counts
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN rates r USING (source)
            WHERE CAST(CAST('0x' || substr(md5('1:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                  AS UBIGINT) AS DOUBLE) / 4294967296.0 < r.rate
        """,
        # transitive closure over the exact cosine>=0.35 edge graph —
        # the recursive-CTE components pattern from dedup_corpus, keyed
        # on embeddings; keep = (id is its cluster's min id)
        "semantic_dedup": """
            WITH RECURSIVE emb AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), prs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM emb a JOIN emb b ON a.vec_id < b.vec_id
              WHERE list_cosine_similarity(a.v, b.v) >= 0.35
            ), edges AS (
              SELECT id_a AS u, id_b AS w FROM prs
              UNION ALL
              SELECT id_b, id_a FROM prs
            ), reach(id, r) AS (
              SELECT vec_id, vec_id FROM emb
              UNION
              SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.w
            ), labels AS (
              SELECT id, min(r) AS cluster FROM reach GROUP BY 1
            ), sizes AS (
              SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
              FROM labels GROUP BY 1
            )
            SELECT l.id AS vec_id, CAST(l.cluster AS BIGINT) AS cluster,
                   s.cluster_size, l.id = l.cluster AS keep
            FROM labels l JOIN sizes s USING (cluster)
        """,
        "bm25_topk": _bm25_oracle_sql(),
        "hybrid_topk": _hybrid_oracle_sql(),
        "rrf_topk": _rrf_oracle_sql(),
        "inverted_index": _inverted_index_oracle_sql(),
        "corpus_filter": _corpus_filter_oracle_sql(),
        "clean_corpus": _clean_corpus_oracle_sql(),
        "text_normalize": _text_normalize_oracle_sql(),
        "passage_dups": _passage_dups_oracle_sql(),
        "dup_span_report": _dup_span_report_oracle_sql(),
        "dup_span_removal": _dup_span_removal_oracle_sql(),
        "boilerplate_lines": _boilerplate_lines_oracle_sql(),
        "streaming_boilerplate": _boilerplate_lines_oracle_sql(),
        "line_dedup": _line_dedup_oracle_sql(),
        "vocab_coverage": _vocab_coverage_oracle_sql(),
        "lm_perplexity": _lm_perplexity_oracle_sql(),
        "quality_deciles": _quality_deciles_oracle_sql(),
        "corpus_curation": _corpus_curation_oracle_sql(),
        "source_quality": _source_quality_oracle_sql(),
        # replays one Lloyd iteration exactly: init = embeddings of the
        # 8 smallest ids, argmin with (dist, cell) tie order matching
        # np.argmin's first-minimum, grouped coordinate means, then the
        # final assignment stats the Spark query reports
        "kmeans_cells": """
            WITH emb AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), init AS (
              SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
              FROM emb ORDER BY vec_id LIMIT 8
            ), d0 AS (
              SELECT e.vec_id, i.cell,
                     list_sum([ (e.v[j] - i.c[j]) * (e.v[j] - i.c[j])
                                FOR j IN generate_series(1, 64) ]) AS dist
              FROM emb e CROSS JOIN init i
            ), a0 AS (
              SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
                FROM d0
              ) WHERE rn = 1
            ), upd AS (
              SELECT a0.cell, t.j, avg(e.v[t.j]) AS m
              FROM a0 JOIN emb e USING (vec_id)
              CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) t
              GROUP BY a0.cell, t.j
            ), c1 AS (
              SELECT cell, list(m ORDER BY j) AS c FROM upd GROUP BY cell
            ), d1 AS (
              SELECT e.vec_id, c1.cell,
                     list_sum([ (e.v[j] - c1.c[j]) * (e.v[j] - c1.c[j])
                                FOR j IN generate_series(1, 64) ]) AS dist
              FROM emb e CROSS JOIN c1
            ), a1 AS (
              SELECT vec_id, cell, dist FROM (
                SELECT vec_id, cell, dist,
                       row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
                FROM d1
              ) WHERE rn = 1
            )
            SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
                   round(avg(dist), 6) AS avg_sqdist
            FROM a1 GROUP BY cell
        """,
        # exact all-pairs 3-shingle Jaccard: this oracle encodes a
        # DETERMINISTIC property of the fixed (fixture, seeds) pair, not
        # a universal LSH invariant — every J>=0.4 pair in the testdata
        # sits >= 0.6, comfortably above the recall knee, so the MinHash
        # pipeline provably recovers the exact pair set.  Verified green
        # at BOTH sf0.01 (the driver's gate) and sf0.1
        # (tools/check_contract.py --sf .../sf0.1); on a fixture with
        # borderline-J pairs the honest registration would be rows-only
        # + the recall pytest, as for the ANN paths.  The borderline
        # regime itself is now quantified: test_round3_fixes::
        # test_lsh_banding_recall_tracks_theory plants signature pairs
        # across J in {0.35..0.75} and pins measured bucket recall to
        # 1-(1-s^r)^b within binomial tolerance
        "minhash_near_dups": f"""
            WITH {_SHINGLES3_CTE}, sizes AS (
              SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(ni / CAST(sa.n + sb.n - ni AS DOUBLE), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE ni / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.4
        """,
        # connected components via transitive-closure recursive CTE over
        # the exact pair graph; survivors = min-reachable-id == own id
        "dedup_corpus": f"""
            WITH RECURSIVE {_SHINGLES3_CTE}, sizes AS (
              SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), pairs AS (
              SELECT id_a, id_b FROM inter
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE ni / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.4
            ), edges AS (
              SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL
              SELECT id_b, id_a FROM pairs
            ), reach(id, r) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
            ), labels AS (
              SELECT id, min(r) AS label FROM reach GROUP BY 1
            )
            SELECT d.doc_id, d.lang
            FROM documents d JOIN labels l ON l.id = d.doc_id
            WHERE l.label = l.id
        """,
        # exact Jaccard pairs BETWEEN the odd (new) and even (indexed)
        # halves — the cross-batch restriction of the dedup_corpus
        # pair CTE; same above-the-LSH-knee fixture property
        "decayed_topk": """
            WITH aged AS (
              SELECT event_type, user_id,
                     date_diff('day', CAST(ts AS DATE), DATE '2024-01-31') AS age
              FROM events
            ), agg AS (
              SELECT event_type, user_id,
                     CAST(count(*) AS BIGINT) AS cnt,
                     CAST(sum(CASE WHEN age < 0 OR age > 2*15 + 2 - 1 THEN 0
                                   ELSE (CAST(1 AS BIGINT) << (15 - CAST(floor(age / 2) AS INT)))
                              END) AS BIGINT) AS decayed_fp
              FROM aged GROUP BY 1, 2
            ), ranked AS (
              SELECT *, CAST(row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY decayed_fp DESC, user_id) AS INT) AS rank
              FROM agg
            )
            SELECT event_type, rank, user_id, cnt, decayed_fp,
                   CAST(decayed_fp / 32768.0 AS DOUBLE) AS decayed
            FROM ranked WHERE rank <= 10
        """,
        "lsh_tuning": """
            WITH combos AS (
              SELECT DISTINCT CAST(64 // r AS INTEGER) AS b, CAST(r AS INTEGER) AS r
              FROM generate_series(1, 64) t(r)
            ), areas AS (
              SELECT b, r,
                list_sum([CASE WHEN (2*i-1)/512.0 < 0.6
                               THEN 1 - pow(1 - pow((2*i-1)/512.0, r), b)
                               ELSE 0.0 END
                          FOR i IN generate_series(1, 256)]) / 256 AS fp_raw,
                list_sum([CASE WHEN (2*i-1)/512.0 >= 0.6
                               THEN pow(1 - pow((2*i-1)/512.0, r), b)
                               ELSE 0.0 END
                          FOR i IN generate_series(1, 256)]) / 256 AS fn_raw
              FROM combos
            ), scored AS (
              SELECT b, r, round(fp_raw, 6) AS fp_area, round(fn_raw, 6) AS fn_area,
                     round(0.5 * fp_raw + 0.5 * fn_raw, 6) AS err
              FROM areas
            )
            SELECT b, r, fp_area, fn_area, err,
                   row_number() OVER (ORDER BY err, b, r) = 1 AS chosen
            FROM scored
        """,
        "incremental_dedup": _INCREMENTAL_DEDUP_SQL,
        "incremental_semantic_dedup": """
            SELECT a.vec_id AS id_new, b.vec_id AS id_old,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
            FROM embeddings a JOIN embeddings b
              ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0
            WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        """,
        # identical semantics by design: the streaming run is a pure
        # probe of the same static even-half index (micro-batch
        # boundaries must not change the answer)
        "streaming_incremental_dedup": _INCREMENTAL_DEDUP_SQL,
        "skewed_host_stats": f"""
            SELECT CASE WHEN doc_id % 2 = 0 THEN 'mega.example.com'
                        ELSE 'host-' || CAST(doc_id % 25 AS VARCHAR) END AS host,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY 1
        """,
        "keyed_stats_by_source": f"""
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        """,
        "bloom_semi_join": """
            SELECT o_orderkey, o_custkey FROM orders
            WHERE o_custkey IN (
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            )
        """,
        "rollup_daily": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1
        """,
        "bpe_token_counts": f"""
            SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
              SELECT unnest({bpe_ish_tokens_sql("text")}) AS token FROM documents
            ) GROUP BY token HAVING count(*) >= 500
        """,
        "winnow_fingerprints": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t
              FROM documents WHERE doc_id < 100
            ), grams AS (
              SELECT doc_id,
                     [md5(array_to_string(t[i:i+2], ' '))
                      FOR i IN generate_series(1, len(t)-2)] AS h
              FROM toks
            ), fp AS (
              SELECT doc_id,
                     CASE WHEN len(h) >= 4 THEN
                            list_distinct([list_min(h[i:i+3])
                                           FOR i IN generate_series(1, len(h)-3)])
                          WHEN len(h) > 0 THEN [list_min(h)]
                          ELSE [] END AS fps
              FROM grams
            )
            SELECT doc_id, unnest(fps) AS fp FROM fp
        """,
        "html_roundtrip": """
            SELECT doc_id, md5(text) AS extracted_md5,
                   CAST(octet_length(encode(
                     '<html><head><title>' ||
                     replace(replace(replace('https://docs.example.com/' || CAST(doc_id AS VARCHAR),
                             '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
                     '</title></head><body><p>' ||
                     replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
                     '</p></body></html>')) AS BIGINT) AS n_html_bytes
            FROM documents
        """,
        "simhash_md5": simhash_md5_sql(),
        "top_df_tokens": f"""
            WITH toks AS (
              SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents
            )
            SELECT tok AS token, CAST(count(*) AS BIGINT) AS df
            FROM toks GROUP BY tok
            ORDER BY df DESC, token ASC LIMIT 50
        """,
        "leakage_safe_split": f"""
            WITH RECURSIVE {_SHINGLES3_CTE}, sizes AS (
              SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), pairs AS (
              SELECT id_a, id_b FROM inter
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE ni / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.4
            ), edges AS (
              SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL
              SELECT id_b, id_a FROM pairs
            ), reach(id, r) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
            ), labels AS (
              SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster
              FROM reach GROUP BY 1
            ), ranked AS (
              SELECT doc_id, cluster,
                     CAST(CAST('0x' || substr(md5('1:' || CAST(cluster AS VARCHAR)), 1, 8)
                          AS UBIGINT) AS DOUBLE) / 4294967296.0 AS u
              FROM labels
            )
            SELECT doc_id, cluster,
                   CASE WHEN u < 0.9 THEN 'train'
                        WHEN u < 0.95 THEN 'val'
                        ELSE 'test' END AS split
            FROM ranked
        """,
        "train_val_test_split": """
            WITH u AS (
              SELECT doc_id,
                     CAST(CAST('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 8)
                          AS UBIGINT) AS DOUBLE) / 4294967296.0 AS u
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN u < 0.9 THEN 'train'
                        WHEN u < 0.95 THEN 'val'
                        ELSE 'test' END AS split
            FROM u
        """,
        "sample_per_source": """
            WITH u AS (
              SELECT source, doc_id,
                     CAST(CAST('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 8)
                          AS UBIGINT) AS DOUBLE) / 4294967296.0 AS u
              FROM documents
            )
            SELECT source, doc_id,
                   CAST(row_number() OVER (
                     PARTITION BY source ORDER BY u ASC, doc_id ASC
                   ) AS INT) AS sample_rank
            FROM u
            QUALIFY sample_rank <= 3
        """,
        "bottomk_sample": """
            SELECT doc_id, lang, source
            FROM (
              SELECT doc_id, lang, source,
                     CAST(CAST('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 8)
                          AS UBIGINT) AS DOUBLE) / 4294967296.0 AS u
              FROM documents
            )
            ORDER BY u ASC, doc_id ASC LIMIT 20
        """,
        "kmv_distinct_by_lang": f"""
            WITH toks AS (
              SELECT lang, unnest({_TOKS}) AS tok
              FROM documents
            ), u AS (
              SELECT DISTINCT lang,
                     CAST(CAST('0x' || substr(md5('1:' || tok), 1, 8)
                          AS UBIGINT) AS DOUBLE) / 4294967296.0 AS u
              FROM toks
            ), r AS (
              SELECT lang, u,
                     row_number() OVER (PARTITION BY lang ORDER BY u ASC) AS rnk
              FROM u
            )
            SELECT lang,
                   round(CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                              ELSE 255.0 / max(u) END, 4) AS est_distinct,
                   CAST(count(*) AS BIGINT) AS n_minima
            FROM r WHERE rnk <= 256
            GROUP BY lang
        """,
        "kmv_lang_similarity": f"""
            WITH toks AS (
              SELECT lang, unnest({_TOKS}) AS tok
              FROM documents
            ), uu AS (
              SELECT DISTINCT lang AS g,
                     CAST(CAST('0x' || substr(md5('1:' || tok), 1, 8)
                          AS UBIGINT) AS DOUBLE) / 4294967296.0 AS u
              FROM toks
            ), bottom AS (
              SELECT g, u FROM (
                SELECT g, u, row_number() OVER (PARTITION BY g ORDER BY u ASC) AS rnk
                FROM uu
              ) WHERE rnk <= 256
            ), pairs AS (
              SELECT a.g AS ga, b.g AS gb
              FROM (SELECT DISTINCT g FROM bottom) a
              JOIN (SELECT DISTINCT g FROM bottom) b ON a.g < b.g
            ), merged AS (
              SELECT p.ga, p.gb, x.u,
                     max(CASE WHEN x.g = p.ga THEN 1 ELSE 0 END) AS a,
                     max(CASE WHEN x.g = p.gb THEN 1 ELSE 0 END) AS b
              FROM pairs p JOIN bottom x ON x.g IN (p.ga, p.gb)
              GROUP BY 1, 2, 3
            ), kept AS (
              SELECT ga, gb, u, a, b FROM (
                SELECT ga, gb, u, a, b,
                       row_number() OVER (PARTITION BY ga, gb ORDER BY u ASC) AS rn
                FROM merged
              ) WHERE rn <= 256
            )
            SELECT ga, gb,
                   round(CASE WHEN count(*) < 256
                         THEN sum(a*b) / CAST(count(*) AS DOUBLE)
                         ELSE sum(a*b) / 256.0 END, 4) AS est_jaccard,
                   round(CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                         ELSE 255.0 / max(u) END, 4) AS est_union,
                   CAST(sum(a*b) AS BIGINT) AS n_both
            FROM kept GROUP BY 1, 2
        """,
        "tfidf_top_terms": f"""
            WITH exploded AS (
              SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
            ), tf AS (
              SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
              FROM exploded GROUP BY doc_id, tok
            ), dfreq AS (
              SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              FROM exploded GROUP BY tok
            ), n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.tok,
                     ROUND(tf.tf * ln(n.n_docs / dfreq.df), 6) AS tfidf
              FROM tf JOIN dfreq USING (tok), n
              WHERE tf.doc_id < 200
            )
            SELECT doc_id, tok AS token, tfidf,
                   CAST(row_number() OVER (
                     PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC
                   ) AS INT) AS rank
            FROM scored
            QUALIFY rank <= 3
        """,
        # streaming==batch: the streamed snapshot must match the same
        # exact-count oracle the batch token_counts query matches
        "streaming_token_counts": _TOKEN_COUNTS_SQL,
        "warc_roundtrip": """
            SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
                   CAST(TIMESTAMP '2026-01-01 00:00:00'
                        + doc_id * INTERVAL 1 SECOND AS VARCHAR) AS ts,
                   md5(text) AS text_md5,
                   CAST(strlen(text) AS BIGINT) AS n_bytes
            FROM documents
        """,
    }
