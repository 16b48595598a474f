"""Dedup family, similarity search, and multimodal plumbing tests."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sketch_spark.operators.dedup import (
    exact_dedup,
    minhash_near_duplicates,
    minhash_signatures,
    simhash,
    simhash_candidate_pairs,
)
from sketch_spark.operators.similarity import (
    cosine_topk,
    exact_cosine_pairs,
    hyperplane_buckets,
    lsh_bucket_topk,
)


@pytest.fixture(scope="module")
def neardup_df(spark):
    """Deterministic corpus with planted near-duplicates: each base doc
    gets a mutated twin (every 20th token dropped -> Jaccard ~0.9 on
    3-shingles) and an unrelated doc."""
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(5000)]
    rows = []
    for i in range(60):
        toks = list(rng.choice(vocab, size=200))
        rows.append((i * 10, " ".join(toks)))  # base
        mutated = [t for j, t in enumerate(toks) if j % 20 != 0]
        rows.append((i * 10 + 1, " ".join(mutated)))  # near-dup twin
        rows.append((i * 10 + 2, " ".join(rng.choice(vocab, size=200))))  # unrelated
    return spark.createDataFrame(rows, "doc_id long, text string").repartition(4)


def exact_jaccard_pairs(pdf: pd.DataFrame, k: int = 3, threshold: float = 0.5):
    def shingles(text):
        toks = text.split()
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sh = {r.doc_id: shingles(r.text) for r in pdf.itertuples()}
    out = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if j >= threshold:
                out[(a, b)] = j
    return out


def test_minhash_lsh_precision_and_recall(spark, neardup_df):
    pdf = neardup_df.toPandas()
    truth = exact_jaccard_pairs(pdf, k=3, threshold=0.5)
    got = minhash_near_duplicates(
        neardup_df, "doc_id", "text", num_perm=64, bands=16, shingle_k=3,
        threshold=0.5, seed=1,
    ).toPandas()
    got_pairs = {(r.id_a, r.id_b): r.jaccard for r in got.itertuples()}
    # precision is exact by construction (verify step recomputes J)
    for (a, b), j in got_pairs.items():
        assert (a, b) in truth, f"false positive pair ({a},{b}) J={j}"
    # recall: at J>=0.7 the 16x4 banding catches >=98% in expectation;
    # planted twins sit near J~0.85
    high = {p for p, j in truth.items() if j >= 0.7}
    found = set(got_pairs) & high
    assert len(found) >= 0.9 * len(high), f"recall {len(found)}/{len(high)}"
    assert len(high) >= 50  # the planted twins actually exist


def test_minhash_jaccard_values_exact(spark, neardup_df):
    """The reported jaccard equals brute-force jaccard (verify step is
    exact, not an estimate)."""
    pdf = neardup_df.toPandas()
    truth = exact_jaccard_pairs(pdf, k=3, threshold=0.5)
    got = minhash_near_duplicates(
        neardup_df, "doc_id", "text", threshold=0.5, seed=1
    ).toPandas()
    for r in got.itertuples():
        assert abs(truth[(r.id_a, r.id_b)] - r.jaccard) < 1e-6


def test_minhash_int_ids_match_bigint(spark, neardup_df):
    """An ``int`` id column gives the same MinHash pairs as the same ids
    as bigint: the signature pass declares its id column long."""
    want = sorted(minhash_near_duplicates(neardup_df, threshold=0.5, seed=1).collect())
    as_int = neardup_df.withColumn("doc_id", F.col("doc_id").cast("int"))
    assert as_int.schema["doc_id"].dataType.simpleString() == "int"
    got = sorted(minhash_near_duplicates(as_int, threshold=0.5, seed=1).collect())
    assert want and got == want


def test_string_ids_raise_before_any_job(spark, neardup_df, tmp_path):
    """Every operator whose mapInArrow carries the id under a long
    schema rejects a string id at plan time, naming the column and its
    type, instead of failing inside a task."""
    from sketch_spark.operators.clustering import kmeans_assign
    from sketch_spark.operators.dedup import duplicate_ngram_spans
    from sketch_spark.operators.similarity import (
        build_ann_index,
        incremental_semantic_dedup,
        ivf_assign,
    )

    docs = neardup_df.withColumn("doc_id", F.col("doc_id").cast("string"))
    vecs = spark.createDataFrame([("v1", [1.0, 0.0])], "vec_id string, embedding array<double>")
    cents = np.eye(2)
    calls = {
        "doc_id": [
            lambda: minhash_signatures(docs),
            lambda: minhash_near_duplicates(docs),
            lambda: simhash(docs, drop_top_df=5),
            lambda: duplicate_ngram_spans(docs, n=4),
        ],
        "vec_id": [
            lambda: kmeans_assign(vecs, cents),
            lambda: hyperplane_buckets(vecs),
            lambda: ivf_assign(vecs, cents),
            lambda: build_ann_index(vecs, str(tmp_path / "idx"), n_cells=2),
            lambda: incremental_semantic_dedup(vecs, str(tmp_path / "missing")),
        ],
    }
    sc = spark.sparkContext
    sc.setJobGroup("string-ids", "string ids")
    try:
        for col, fns in calls.items():
            for fn in fns:
                with pytest.raises(TypeError, match=f"'{col}'.* string"):
                    fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("string-ids")) == []


def test_minhash_signature_estimate_unbiased(spark, neardup_df):
    sigs = minhash_signatures(neardup_df, num_perm=128, shingle_k=3, seed=3).toPandas()
    pdf = neardup_df.toPandas()
    truth = exact_jaccard_pairs(pdf, k=3, threshold=0.6)
    bysig = {r.doc_id: np.asarray(r.sig) for r in sigs.itertuples()}
    errs = [
        abs((bysig[a] == bysig[b]).mean() - j) for (a, b), j in truth.items()
    ]
    assert np.mean(errs) < 0.08  # RSE ~ 1/sqrt(128) ~ 0.09 per pair


def test_exact_dedup(spark):
    rows = [(1, "a b c"), (2, "a b c"), (3, "x y"), (4, "a b c"), (5, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = exact_dedup(df, "text", "doc_id").toPandas().sort_values("keep_id")
    assert len(out) == 3
    dup = out[out.n_docs == 3]
    assert dup.keep_id.tolist() == [1]


def test_simhash_properties(spark, neardup_df):
    out = simhash(neardup_df, "doc_id", "text", seed=1).toPandas()
    assert len(out) == neardup_df.count()
    # identical text -> identical simhash (run twice, compare)
    out2 = simhash(neardup_df, "doc_id", "text", seed=1).toPandas()
    m = out.merge(out2, on="doc_id", suffixes=("", "_2"))
    assert (m.simhash == m.simhash_2).all()
    # near-dup twins within small hamming distance, unrelated docs far
    fp = {r.doc_id: np.uint64(r.simhash << 1) for r in out.itertuples()}

    def ham(a, b):
        return bin(int(fp[a]) ^ int(fp[b])).count("1")

    twin_d = [ham(i * 10, i * 10 + 1) for i in range(60)]
    rand_d = [ham(i * 10, i * 10 + 2) for i in range(60)]
    assert np.median(twin_d) <= 6
    assert np.median(rand_d) >= 20


def test_simhash_candidate_pairs(spark, neardup_df):
    sim = simhash(neardup_df, "doc_id", "text", seed=1)
    pairs = simhash_candidate_pairs(sim, "doc_id").toPandas()
    got = set(zip(pairs.id_a, pairs.id_b))
    # hamming<=3 twins are guaranteed caught (pigeonhole over 4 bands)
    sim_pdf = sim.toPandas()
    fp = {r.doc_id: int(np.uint64(r.simhash << 1)) for r in sim_pdf.itertuples()}
    for i in range(60):
        a, b = i * 10, i * 10 + 1
        if bin(fp[a] ^ fp[b]).count("1") <= 3:
            assert (a, b) in got


def test_minhash_null_text_attribution(spark):
    # with a null-text row between twins, dedup must still pair the
    # twins (pre-fix, drop_null shifted attribution so doc 2's shingles
    # were credited to doc 1)
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, None),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "totally different words here now ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from sketch_spark.operators.dedup import minhash_near_duplicates

    pairs = minhash_near_duplicates(
        df, threshold=0.9, num_perm=32, bands=8, shingle_k=2
    ).toPandas()
    assert set(zip(pairs.id_a, pairs.id_b)) == {(0, 2)}


def test_simhash_candidate_pairs_capped(spark):
    from sketch_spark.operators.dedup import simhash, simhash_candidate_pairs

    # adversarial corpus: identical text -> every doc lands in the same
    # bucket of every band
    df = spark.createDataFrame(
        [(i, "same text every row") for i in range(30)], "doc_id long, text string"
    )
    sim = simhash(df, "doc_id", "text", seed=1)
    capped = simhash_candidate_pairs(sim, "doc_id", max_bucket=10).toPandas()
    # bounded: at most C(10,2) pairs, all flagged
    assert len(capped) == 45
    assert capped.capped.all()
    full = simhash_candidate_pairs(sim, "doc_id", max_bucket=1000).toPandas()
    assert len(full) == 30 * 29 // 2
    assert not full.capped.any()


def test_simhash_near_duplicates_end_to_end(spark):
    """Full-64-bit Hamming verify (low bit recovered from band0) matches
    brute force on the candidate-reachable set."""
    import numpy as np

    from sketch_spark.operators.dedup import simhash, simhash_near_duplicates

    rng = np.random.default_rng(13)
    vocab = [f"tok{i}" for i in range(400)]
    rows = []
    for i in range(40):
        base = list(rng.choice(vocab, size=30, replace=False))
        twin = base.copy()
        twin[0] = str(rng.choice(vocab))  # small perturbation
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(twin)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = simhash_near_duplicates(df, "doc_id", "text", max_hamming=3, seed=1).toPandas()
    got_pairs = set(zip(got.id_a, got.id_b))

    # brute force over full 64-bit fingerprints
    sim = simhash(df, "doc_id", "text", seed=1).toPandas()
    fp = {
        r.doc_id: (int(np.uint64(r.simhash)) << 1) | (int(r.band0) & 1)
        for r in sim.itertuples()
    }
    ids = sorted(fp)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fp[a] ^ fp[b]).count("1") <= 3
    }
    assert got_pairs == brute  # pigeonhole recall 1.0, exact verify
    assert len(brute) > 0  # fixture actually produced close twins
    ham = dict(zip(zip(got.id_a, got.id_b), got.hamming))
    for (a, b), h in ham.items():
        assert h == bin(fp[a] ^ fp[b]).count("1")


def _zipf_corpus(n_docs=3000, seed=7, vocab=5000, doc_len=200, n_exact=10, n_append=20):
    """Organic Zipf(1.07) docs + planted twins: exact copies and
    one-token-appended near-identical copies."""
    rng = np.random.default_rng(seed)
    texts = []
    for _ in range(n_docs):
        ids = rng.zipf(1.07, size=doc_len * 2)
        ids = ids[ids <= vocab][:doc_len]
        texts.append(" ".join(f"w{t}" for t in ids))
    rows = [{"doc_id": i, "text": t} for i, t in enumerate(texts)]
    exact, appended = [], []
    for j in range(n_exact):
        rows.append({"doc_id": n_docs + j, "text": rows[j * 11]["text"]})
        exact.append((j * 11, n_docs + j))
    for j in range(n_append):
        rows.append(
            {"doc_id": n_docs + n_exact + j, "text": rows[j * 7 + 1]["text"] + f" uniquetwin{j}"}
        )
        appended.append((j * 7 + 1, n_docs + n_exact + j))
    return pd.DataFrame(rows), exact, appended


def test_simhash_head_drop_cuts_zipf_candidate_density(spark):
    """VERDICT r2 #1: on an organic Zipf corpus the 64-bit SimHash
    candidate graph densifies (head tokens dominate every doc's bit
    votes — measured 1.5M candidate pairs at just 3k docs here, 13.6M
    at 500k in BENCH.md); drop_top_df must cut candidate volume >=10x
    (measured ~2400x on this corpus) while still finding planted
    exact/near-identical twins.  Head-drop makes per-bit vote margins
    thin (that IS the discrimination), so one-token-edit twins sit at
    Hamming ~1-5 instead of ~0 — the assertions are calibrated to the
    deterministic fixture."""
    from sketch_spark.operators.dedup import (
        simhash,
        simhash_candidate_pairs,
        simhash_near_duplicates,
    )

    pdf, exact, appended = _zipf_corpus()
    df = spark.createDataFrame(pdf).repartition(8)

    def n_candidates(drop):
        sim = simhash(df, "doc_id", "text", seed=1, drop_top_df=drop)
        return simhash_candidate_pairs(sim, "doc_id").count()

    dense = n_candidates(0)
    sparse = n_candidates(50)
    assert dense >= 10 * max(sparse, 1), (dense, sparse)

    got = simhash_near_duplicates(
        df, "doc_id", "text", max_hamming=3, seed=1, drop_top_df=50
    ).toPandas()
    got_pairs = {(int(a), int(b)) for a, b in zip(got.id_a, got.id_b)}
    assert all(p in got_pairs for p in exact), "exact copies must always be found"
    found = sum(1 for p in appended if p in got_pairs)
    assert found >= 12, (found, len(appended))  # measured 14/20 on this fixture


def test_simhash_head_drop_all_head_doc_fallback(spark):
    """A doc made ENTIRELY of head tokens keeps a full-token-set
    fingerprint instead of collapsing to zero votes (which would
    spuriously bucket every such doc into one Hamming-0 cluster)."""
    from sketch_spark.operators.dedup import simhash

    rows = [{"doc_id": i, "text": "the a of and to in is " * 8} for i in range(2)]
    rows += [{"doc_id": 2 + i, "text": f"rare{i} distinct{i} words{i} here{i}"} for i in range(3)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    # drop_top_df large enough to cover the whole head vocabulary
    out = simhash(df, "doc_id", "text", seed=1, drop_top_df=7).toPandas().set_index("doc_id")
    # head-only docs: identical text => identical fingerprint, but NOT
    # the all-zero vote pattern of "no tokens at all"
    assert out.loc[0, "simhash"] == out.loc[1, "simhash"]
    base = simhash(df, "doc_id", "text", seed=1, drop_top_df=0).toPandas().set_index("doc_id")
    assert out.loc[0, "simhash"] == base.loc[0, "simhash"]  # fallback = undropped votes
    # tail docs unaffected by dropping head tokens they don't contain
    for i in (2, 3, 4):
        assert out.loc[i, "simhash"] == base.loc[i, "simhash"]


def test_top_df_token_hashes_ranks_head(spark):
    from sketch_spark.core.hashing import hash_strings
    from sketch_spark.operators.dedup import top_df_token_hashes

    rows = [{"text": f"common filler w{i} unique{i}"} for i in range(200)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    top = top_df_token_hashes(df, "text", k=2, seed=1)
    expect = hash_strings(np.array(["common", "filler"], dtype=object), seed=1)
    assert set(top.tolist()) == set(expect.tolist())


def test_lsh_banding_recall_tracks_theory(spark):
    """VERDICT r2 #4: the contract fixtures sit above the recall knee
    by construction, so a banding bug that only bites borderline-J
    pairs would previously go uncaught.  Plant signature pairs whose
    components agree independently with probability s (exactly the
    MinHash property for Jaccard s) across s in {0.35..0.75} and
    assert measured bucket-collision recall tracks 1-(1-s^r)^b within
    binomial tolerance.  This drives lsh_candidate_pairs' actual
    slicing/hash/bucket pipeline, not a reimplementation."""
    from sketch_spark.operators.dedup import lsh_candidate_pairs

    rng = np.random.default_rng(17)
    num_perm, bands, m_pairs = 64, 16, 400
    r = num_perm // bands
    levels = [0.35, 0.45, 0.55, 0.65, 0.75]
    rows, planted = [], {}
    nid = 0
    for s in levels:
        planted[s] = []
        for _ in range(m_pairs):
            base = rng.integers(0, 1 << 62, size=num_perm, dtype=np.int64)
            other = rng.integers(0, 1 << 62, size=num_perm, dtype=np.int64)
            agree = rng.random(num_perm) < s
            partner = np.where(agree, base, other)
            rows.append({"doc_id": nid, "sig": base.tolist()})
            rows.append({"doc_id": nid + 1, "sig": partner.tolist()})
            planted[s].append((nid, nid + 1))
            nid += 2
    sig_df = spark.createDataFrame(pd.DataFrame(rows)).repartition(8)
    cand = lsh_candidate_pairs(sig_df, "doc_id", bands=bands).select("id_a", "id_b").toPandas()
    got = {(int(a), int(b)) for a, b in zip(cand.id_a, cand.id_b)}
    for s in levels:
        theory = 1.0 - (1.0 - s**r) ** bands
        measured = sum(1 for p in planted[s] if p in got) / m_pairs
        se = (theory * (1 - theory) / m_pairs) ** 0.5
        assert abs(measured - theory) <= 4 * se + 0.02, (s, measured, theory)


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def emb(spark, sf01):
    import os

    return spark.read.parquet(os.path.join(sf01, "embeddings.parquet"))


def brute_topk(pdf, queries, k):
    mat = np.stack(pdf["embedding"].apply(np.asarray)).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for qid, q in queries.items():
        q = np.asarray(q, dtype=np.float64)
        q = q / np.linalg.norm(q)
        sims = np.round(mat @ q, 6)
        order = sorted(zip(-sims, ids))[:k]
        out[qid] = [(int(i), float(-s)) for s, i in order]
    return out


def test_cosine_topk_exact(spark, emb):
    qrows = emb.filter(F.col("vec_id") < 5).collect()
    queries = {int(r.vec_id): r.embedding for r in qrows}
    corpus = emb.filter(F.col("vec_id") >= 10)
    got = cosine_topk(corpus, queries, k=5).toPandas()
    truth = brute_topk(corpus.toPandas(), queries, 5)
    for qid, expected in truth.items():
        sub = got[got.query_id == qid].sort_values("rank")
        assert list(zip(sub.vec_id, sub.sim)) == expected


def test_exact_cosine_pairs_vs_brute(spark, emb):
    got = exact_cosine_pairs(emb, threshold=0.4).toPandas()
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].apply(np.asarray)).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    ia, ib = np.triu_indices(len(ids), k=1)
    keep = sims[ia, ib] >= 0.4
    truth = {
        (min(a, b), max(a, b)): round(s, 6)
        for a, b, s in zip(ids[ia[keep]], ids[ib[keep]], sims[ia, ib][keep])
    }
    got_pairs = {(r.id_a, r.id_b): r.cos for r in got.itertuples()}
    assert got_pairs == truth


def test_lsh_bucket_topk_recall(spark, emb):
    qrows = emb.filter(F.col("vec_id") < 3).collect()
    queries = {int(r.vec_id): r.embedding for r in qrows}
    corpus = emb.filter(F.col("vec_id") >= 10)
    exact = cosine_topk(corpus, queries, k=10).toPandas()
    approx = lsh_bucket_topk(corpus, queries, k=10, bits=6, probe_hamming=1).toPandas()
    # recall@10 against exact — hyperplane LSH on near-orthogonal random
    # vectors is a weak signal; assert the machinery returns valid rows
    # and achieves nonzero overlap
    assert len(approx) > 0
    for qid in queries:
        e = set(exact[exact.query_id == qid].vec_id)
        a = set(approx[approx.query_id == qid].vec_id)
        assert a <= set(corpus.toPandas().vec_id)
        assert len(a & e) >= 1


def test_hyperplane_buckets_deterministic(spark, emb):
    b1 = hyperplane_buckets(emb, bits=8, seed=7).toPandas().sort_values("vec_id")
    b2 = hyperplane_buckets(emb, bits=8, seed=7).toPandas().sort_values("vec_id")
    assert (b1.bucket.to_numpy() == b2.bucket.to_numpy()).all()


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------
def test_binary_metadata(spark, pages_dir):
    from sketch_spark.functions.multimodal import binary_metadata
    from sketch_spark.sources.pages import load_pages

    df = load_pages(spark, pages_dir)
    out = binary_metadata(df, "html", "url").toPandas()
    assert len(out) == df.count()
    assert (out.format == "html").all()
    assert (out.n_bytes > 0).all()
    import hashlib

    sample = df.select("url", "html").limit(5).collect()
    md5s = dict(zip(out.url, out.content_md5))
    for r in sample:
        assert md5s[r.url] == hashlib.md5(bytes(r.html)).hexdigest()


def test_decode_image_jpeg_dispatch():
    # baseline AND progressive JPEG decode natively now (jpegcodec.py,
    # r5); a blob that only LOOKS like a JPEG is corrupt data ->
    # skippable ValueError, while arithmetic coding (SOF9) keeps the
    # PIL swap point.
    from sketch_spark.functions.multimodal import decode_image

    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xfffakejpeg")
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_image(b"\xff\xd8\xff\xc9\x00\x04\x00\x00")


def test_fake_features_deterministic_and_normalized(spark, pages_dir):
    from sketch_spark.functions.multimodal import extract_features_df, fake_features
    from sketch_spark.sources.pages import load_pages

    df = load_pages(spark, pages_dir).limit(50)
    out = extract_features_df(df, "html", "url", dim=16).toPandas()
    assert len(out) == 50
    for r in out.itertuples():
        v = np.asarray(r.features)
        assert len(v) == 16
        assert abs(np.linalg.norm(v) - 1.0) < 1e-9
    # executor result equals local recomputation (cross-process determinism)
    row = df.select("url", "html").first()
    local = fake_features(bytes(row.html), 16)
    from_spark = np.asarray(out[out.url == row.url].features.iloc[0])
    assert np.allclose(local, from_spark)


def test_ivf_topk_recall_and_determinism(spark, emb):
    from sketch_spark.operators.similarity import ivf_centroids, ivf_topk

    qrows = emb.filter(F.col("vec_id") < 3).collect()
    queries = {int(r.vec_id): r.embedding for r in qrows}
    corpus = emb.filter(F.col("vec_id") >= 10)

    cents1 = ivf_centroids(corpus, n_cells=8, seed=3)
    cents2 = ivf_centroids(corpus, n_cells=8, seed=3)
    assert np.allclose(cents1, cents2)  # deterministic quantizer

    exact = cosine_topk(corpus, queries, k=10).toPandas()
    approx = ivf_topk(corpus, queries, k=10, n_cells=8, nprobe=4, seed=3).toPandas()
    assert len(approx) > 0
    recalls = []
    for qid in queries:
        e = set(exact[exact.query_id == qid].vec_id)
        a = set(approx[approx.query_id == qid].vec_id)
        recalls.append(len(a & e) / len(e))
    # nprobe=4 of 8 cells scans ~half the corpus: recall well above chance
    assert np.mean(recalls) >= 0.4, recalls
    # every returned neighbor's sim must match the exact kernel's value
    merged = approx.merge(exact, on=["query_id", "vec_id"], suffixes=("_a", "_e"))
    assert (merged.sim_a == merged.sim_e).all()


def test_dedup_corpus_clusters(spark):
    """Cluster dedup: chains of near-dups collapse to one survivor."""
    from sketch_spark.operators.dedup import dedup_corpus

    rng = np.random.default_rng(17)
    vocab = [f"w{i}" for i in range(5000)]
    rows = []
    for i in range(20):
        base = list(rng.choice(vocab, size=200))
        # a chain: base ~ mutant1 ~ mutant2 (mutant2 may not match base
        # directly — only via mutant1 -> needs connected components)
        m1 = [t for j, t in enumerate(base) if j % 25 != 0]
        m2 = [t for j, t in enumerate(m1) if j % 25 != 1]
        rows.append((i * 10, " ".join(base)))
        rows.append((i * 10 + 1, " ".join(m1)))
        rows.append((i * 10 + 2, " ".join(m2)))
        rows.append((i * 10 + 3, " ".join(rng.choice(vocab, size=200))))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    out = dedup_corpus(df, threshold=0.6).toPandas()
    kept = set(out.doc_id)
    # every unrelated doc survives
    for i in range(20):
        assert i * 10 + 3 in kept
    # each chain keeps exactly its min id
    for i in range(20):
        chain = {i * 10, i * 10 + 1, i * 10 + 2}
        surviving = chain & kept
        assert surviving == {i * 10}, f"chain {i}: kept {surviving}"


def test_embedding_near_dup_multi_table_recall(spark):
    """OR-amplification: n_tables=4 recall strictly dominates a single
    table and clears 90% on planted near-dup twins."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = []
    for i in range(120):
        v = rng.standard_normal(16)
        v /= np.linalg.norm(v)
        rows.append((2 * i, v.tolist()))
        w = v + 0.05 * rng.standard_normal(16)  # near-dup twin, cos ~ 0.98
        w /= np.linalg.norm(w)
        rows.append((2 * i + 1, w.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from sketch_spark.operators.similarity import (
        embedding_near_duplicates,
        exact_cosine_pairs,
    )

    exact = {
        (r.id_a, r.id_b)
        for r in exact_cosine_pairs(df, 0.95, strategy="broadcast").collect()
    }
    assert len(exact) >= 100  # the planted twins qualify

    def recall(n_tables):
        got = {
            (r.id_a, r.id_b)
            for r in embedding_near_duplicates(
                df, 0.95, bits=10, seed=3, n_tables=n_tables
            ).collect()
        }
        assert got <= exact or all(p in exact for p in got)  # precision exact
        return len(got & exact) / len(exact)

    r1, r6 = recall(1), recall(6)
    assert r6 >= r1
    assert r6 >= 0.9


def test_resize_and_frame_sample_plumbing(spark, pages_dir):
    from sketch_spark.functions.multimodal import (
        resize_images_df,
        sample_video_frames_df,
    )
    from sketch_spark.sources.pages import load_pages

    df = load_pages(spark, pages_dir).limit(20)
    n = df.count()

    resized = resize_images_df(df, "html", "url", width=8, height=6).toPandas()
    assert len(resized) == n
    assert (resized.width == 8).all() and (resized.height == 6).all()
    assert all(len(bytes(p)) == 8 * 6 * 3 for p in resized.pixels)
    # deterministic across runs (stub decode is digest-derived, no RNG)
    again = resize_images_df(df, "html", "url", width=8, height=6).toPandas()
    a = dict(zip(resized.url, resized.pixels))
    b = dict(zip(again.url, again.pixels))
    assert all(bytes(a[u]) == bytes(b[u]) for u in a)

    frames = sample_video_frames_df(df, "html", "url", n_frames=3, width=4, height=4).toPandas()
    assert len(frames) == 3 * n  # row multiplication, shuffle-free
    assert sorted(frames.frame_idx.unique()) == [0, 1, 2]
    per_url = frames.groupby("url").frame.nunique()
    assert (per_url == 3).all()  # distinct frame per index


def test_cosine_sim_col_matches_numpy(spark):
    import numpy as np

    from sketch_spark.operators.similarity import cosine_sim_col

    rng = np.random.default_rng(9)
    rows = [
        (rng.standard_normal(8).tolist(), rng.standard_normal(8).tolist())
        for _ in range(30)
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = [r.c for r in df.select(cosine_sim_col("a", "b").alias("c")).collect()]
    plan = df.select(cosine_sim_col("a", "b").alias("c"))._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # pure Catalyst
    for (a, b), g in zip(rows, got):
        a, b = np.array(a), np.array(b)
        exp = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(g - exp) < 1e-12


def test_dedup_operators_leave_no_cached_table(spark, neardup_df, monkeypatch):
    """MinHash, SimHash and the span semi-join branch each read one
    intermediate table several times; they materialize it with a local
    checkpoint, so a call leaves nothing in the CacheManager (the
    streaming fold calls MinHash every epoch)."""
    from sketch_spark.operators import dedup

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    dedup.minhash_near_duplicates(neardup_df, threshold=0.5, seed=1).collect()
    assert cache.isEmpty(), "minhash_near_duplicates"
    dedup.simhash_near_duplicates(neardup_df, "doc_id", "text", seed=1).collect()
    assert cache.isEmpty(), "simhash_near_duplicates"
    monkeypatch.setattr(dedup, "_SPAN_BROADCAST_CAP", 0)
    assert dedup.duplicate_ngram_spans(neardup_df, n=4, min_count=2).count() > 0
    assert cache.isEmpty(), "duplicate_ngram_spans (semi-join branch)"


def test_propagate_min_labels_long_chain_converges(spark):
    """Regression: neighbor-min alone spreads one hop per round, so a
    path-shaped component longer than the round cap silently got split
    into several clusters (caught by the semantic_dedup oracle).  The
    pointer-jumping step makes convergence O(log diameter): a 200-edge
    chain must collapse to ONE label within the default round cap."""
    from sketch_spark.operators.dedup import propagate_min_labels

    n = 201
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    labels = propagate_min_labels(pairs).collect()
    assert len(labels) == n
    assert {r["label"] for r in labels} == {0}


def test_semantic_dedup_report_clusters_and_survivors(spark):
    """Two planted clusters (near-identical vectors) + isolated
    singletons: cluster = min id, keep only for that id, sizes exact."""
    import numpy as np

    from sketch_spark.operators.similarity import semantic_dedup_report

    rng = np.random.default_rng(5)
    base1 = rng.normal(size=8)
    base2 = rng.normal(size=8)
    rows = []
    for i in range(3):  # cluster of ids 0,1,2 around base1
        rows.append((i, (base1 + rng.normal(scale=1e-3, size=8)).tolist()))
    for i in range(3, 5):  # cluster of ids 3,4 around base2
        rows.append((i, (base2 + rng.normal(scale=1e-3, size=8)).tolist()))
    # orthogonal-ish singletons
    for i in range(5, 8):
        v = np.zeros(8)
        v[i - 4] = 1.0 if i % 2 else -1.0
        rows.append((i, (v + rng.normal(scale=1e-3, size=8)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["cluster"], r["cluster_size"], r["keep"])
        for r in semantic_dedup_report(
            emb, threshold=0.95, strategy="blocked", n_blocks=2
        ).collect()
    }
    assert out[0] == (0, 3, True)
    assert out[1] == (0, 3, False)
    assert out[2] == (0, 3, False)
    assert out[3] == (3, 2, True)
    assert out[4] == (3, 2, False)
    for i in (5, 6, 7):
        assert out[i] == (i, 1, True)


def test_incremental_dedup_matches_batch(spark, neardup_df, tmp_path):
    """Dedup a new batch against a persisted index: cross-batch pairs
    must equal the batch-mode pairs on the union restricted to
    (new, old), with identical Jaccard values (both verify via the
    text re-read path)."""
    from sketch_spark.operators.dedup import (
        incremental_near_duplicates,
        minhash_near_duplicates,
        write_minhash_index,
    )

    old = neardup_df.filter(F.col("doc_id") % 10 == 0)   # bases
    new = neardup_df.filter(F.col("doc_id") % 10 != 0)   # twins + unrelated
    idx = str(tmp_path / "mh_index")
    write_minhash_index(old, idx)

    got = sorted(
        (r["id_new"], r["id_old"], r["jaccard"])
        for r in incremental_near_duplicates(new, idx, old, threshold=0.5).collect()
    )
    batch = minhash_near_duplicates(neardup_df, threshold=0.5, seed=1)
    want = sorted(
        (r["id_b"] if r["id_b"] % 10 else r["id_a"],
         r["id_a"] if r["id_b"] % 10 else r["id_b"],
         r["jaccard"])
        for r in batch.collect()
        if (r["id_a"] % 10 == 0) != (r["id_b"] % 10 == 0)
    )
    assert got == want
    assert len(got) == 60  # every planted twin crosses the split


def test_minhash_index_append_and_param_guard(spark, neardup_df, tmp_path):
    from sketch_spark.operators.dedup import (
        incremental_near_duplicates,
        read_minhash_index,
        write_minhash_index,
    )

    half_a = neardup_df.filter(F.col("doc_id") < 300)
    half_b = neardup_df.filter(F.col("doc_id") >= 300)
    idx = str(tmp_path / "mh_index2")
    write_minhash_index(half_a.filter(F.col("doc_id") % 10 == 0), idx)
    write_minhash_index(
        half_b.filter(F.col("doc_id") % 10 == 0), idx, mode="append"
    )
    keys, meta = read_minhash_index(spark, idx)
    n_bases = neardup_df.filter(F.col("doc_id") % 10 == 0).count()
    assert keys.select("doc_id").distinct().count() == n_bases
    assert meta["bands"] == 16
    # appending with a different hash family must refuse
    with pytest.raises(ValueError):
        write_minhash_index(half_a, idx, mode="append", seed=2)
    # probing the merged index finds twins from BOTH halves
    new = neardup_df.filter(F.col("doc_id") % 10 == 1)
    old = neardup_df.filter(F.col("doc_id") % 10 == 0)
    inc = incremental_near_duplicates(new, idx, old, threshold=0.5)
    assert inc.count() == 60


def test_incremental_semantic_dedup_exact_and_pruned(spark, emb, tmp_path):
    """nprobe='all' must equal brute-force new-vs-old cosine pairs;
    small nprobe must be a subset, find planted twins, and prune the
    index scan to the probed cell partitions."""
    from sketch_spark.operators.similarity import (
        build_ann_index,
        incremental_semantic_dedup,
    )

    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "sem_idx")
    build_ann_index(old, idx, n_cells=8)

    rows = emb.collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}

    def cos(a, b):
        a = a / np.linalg.norm(a)
        b = b / np.linalg.norm(b)
        return float(a @ b)

    want = sorted(
        (n, o, round(cos(vecs[n], vecs[o]), 6))
        for n in vecs
        for o in vecs
        if n % 2 == 1 and o % 2 == 0 and cos(vecs[n], vecs[o]) >= 0.35
    )
    exact = incremental_semantic_dedup(new, idx, threshold=0.35, nprobe="all")
    got = sorted((r.id_new, r.id_old, r.cos) for r in exact.collect())
    assert got == want and len(want) > 50

    pruned = incremental_semantic_dedup(new, idx, threshold=0.35, nprobe=2)
    got_pruned = {(r.id_new, r.id_old) for r in pruned.collect()}
    assert got_pruned <= {(a, b) for a, b, _ in want}
    # the probe-side scan must be partition-pruned to the probed cells
    # (match the INDEX scan's filter — the new-side scan also prints an
    # empty PartitionFilters block)
    import re

    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"(?:Partition)?Filters: \[[^\]]*cell#\d+ IN", plan), plan


def test_incremental_semantic_dedup_finds_planted_twin(spark, emb, tmp_path):
    from sketch_spark.operators.similarity import (
        build_ann_index,
        incremental_semantic_dedup,
    )

    old = emb.filter(F.col("vec_id") % 2 == 0)
    idx = str(tmp_path / "sem_idx2")
    build_ann_index(old, idx, n_cells=8)
    # plant an exact duplicate of an indexed vector as a "new" arrival:
    # it shares its original's nearest centroid, so ANY nprobe >= 1
    # finds it
    twin_src = old.orderBy("vec_id").limit(1).collect()[0]
    twin = spark.createDataFrame(
        [(999999, list(twin_src.embedding))], "vec_id long, embedding array<double>"
    )
    for nprobe in (1, "all"):
        pairs = incremental_semantic_dedup(
            twin, idx, threshold=0.95, nprobe=nprobe
        ).collect()
        assert (999999, twin_src.vec_id, 1.0) in {
            (r.id_new, r.id_old, r.cos) for r in pairs
        }, nprobe


def test_topk_cells_matches_lexsort_reference():
    """_topk_cells (O(K) boundary cut) must reproduce the full
    deterministic lexsort (sim desc, cell asc) it replaced — including
    rows with heavy ties at the n_probe boundary."""
    import numpy as np

    from sketch_spark.operators.similarity import _topk_cells

    rng = np.random.default_rng(7)
    for rows, k_cols in [(1, 1), (5, 8), (64, 33), (200, 128)]:
        # quantized values force many exact ties, incl. at the boundary
        sims = rng.integers(0, 5, size=(rows, k_cols)).astype(np.float64) / 4.0
        for n_probe in {1, 2, k_cols // 2 or 1, k_cols - 1 or 1, k_cols, k_cols + 3}:
            ref = np.lexsort(
                (np.arange(k_cols)[None, :].repeat(rows, 0), -sims), axis=1
            )[:, : min(n_probe, k_cols)]
            got = _topk_cells(sims, n_probe)
            assert got.shape == ref.shape, (rows, k_cols, n_probe)
            assert (got == ref).all(), (rows, k_cols, n_probe)


def test_incremental_semantic_dedup_empty_batch(spark, emb, tmp_path):
    from sketch_spark.operators.similarity import (
        build_ann_index,
        incremental_semantic_dedup,
    )

    idx = str(tmp_path / "sem_idx3")
    build_ann_index(emb.filter(F.col("vec_id") % 2 == 0), idx, n_cells=4)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    for nprobe in (1, "all"):
        assert incremental_semantic_dedup(empty, idx, nprobe=nprobe).count() == 0


def test_verify_from_text_duplicate_doc_rows(spark):
    """A doc id replayed into the verify's doc table (the incremental
    probe path unions new batch + stored docs) must not inflate the
    per-pair presence count: one shingle row per candidate id."""
    from pyspark.sql import functions as F

    from sketch_spark.operators.dedup import verify_jaccard_pairs_from_text

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (1, "a b c d e"),  # replayed copy, identical text
            (2, "a b c d x"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = verify_jaccard_pairs_from_text(
        pairs, docs, "doc_id", "text", threshold=0.1, shingle_k=3
    ).collect()
    assert len(out) == 1
    # trigrams: {abc,bcd,cde} vs {abc,bcd,cdx} -> J = 2/4
    assert out[0]["jaccard"] == 0.5


def test_verify_from_text_null_text_candidate(spark):
    """A NULL-text candidate yields an empty shingle set (jaccard 0,
    filtered) — not an ANSI out-of-bounds crash on the collected pair
    arrays and not a silent engine-dependent NULL."""
    from sketch_spark.operators.dedup import verify_jaccard_pairs_from_text

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, None)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = verify_jaccard_pairs_from_text(
        pairs, docs, "doc_id", "text", threshold=0.1, shingle_k=3
    ).collect()
    assert out == []
