"""Layer-1 unit tests: HLL, Bloom, KLL, hashing (SURVEY.md §5.2 L1)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from sketch_spark.core import BloomFilter, HyperLogLog, KLL, sketch_from_bytes
from sketch_spark.core.hashing import bitlen_u64, hash_strings


# --------------------------------------------------------------------------
# hashing
# --------------------------------------------------------------------------
def test_hash_strings_deterministic_and_distinct():
    toks = [f"word{i}" for i in range(10_000)]
    h1 = hash_strings(toks, seed=1)
    h2 = hash_strings(toks, seed=1)
    assert (h1 == h2).all()
    # 64-bit hash of 10k distinct short strings: collisions ~ 0
    assert len(np.unique(h1)) == len(toks)
    # different seed -> different function
    h3 = hash_strings(toks, seed=2)
    assert (h1 != h3).mean() > 0.999


def test_hash_strings_matches_python_reference():
    """The vectorized column sweep equals a scalar FNV-1a reimplementation."""
    from sketch_spark.core.hashing import _FNV_OFFSET, _FNV_PRIME, mix_u64, splitmix64

    def scalar(s: str, seed: int) -> int:
        init = splitmix64(seed ^ 0xA076_1D64_78BD_642F)
        h = int(_FNV_OFFSET) ^ init
        data = s.encode()[:64]
        for b in data:
            h = ((h ^ b) * int(_FNV_PRIME)) & 0xFFFFFFFFFFFFFFFF
        h ^= len(s.encode())
        return int(mix_u64(np.array([h], dtype=np.uint64), np.uint64(0))[0])

    toks = ["", "a", "ab", "hello world", "x" * 100, "ünïcodé", "tok42"]
    vec = hash_strings(toks, seed=7)
    for t, v in zip(toks, vec):
        assert scalar(t, 7) == int(v)


def test_bitlen():
    v = np.array([0, 1, 2, 3, 255, 256, 2**63, 2**64 - 1], dtype=np.uint64)
    assert bitlen_u64(v).tolist() == [0, 1, 2, 2, 8, 9, 64, 64]


def test_hash_empty_and_nulls():
    assert len(hash_strings([], seed=1)) == 0
    import pyarrow as pa

    arr = pa.array(["a", None, "b"])
    h = hash_strings(arr, seed=1)
    assert len(h) == 3  # null hashes as empty string; callers filter


# --------------------------------------------------------------------------
# HyperLogLog
# --------------------------------------------------------------------------
@pytest.mark.parametrize("n", [100, 5_000, 200_000])
def test_hll_accuracy(n):
    hll = HyperLogLog(p=14, seed=1)
    toks = np.array([f"item-{i}" for i in range(n)])
    # feed with duplicates: cardinality must not change
    hll.update_tokens(toks)
    hll.update_tokens(toks[: n // 2])
    est = hll.estimate()
    assert abs(est - n) / n < 3 * hll.relative_error + 0.01


def test_hll_merge_is_union_and_order_invariant():
    a, b, c = (HyperLogLog(p=12, seed=3) for _ in range(3))
    a.update_tokens([f"a{i}" for i in range(1000)])
    b.update_tokens([f"b{i}" for i in range(1000)])
    c.update_tokens([f"a{i}" for i in range(500)])  # overlap with a
    m1 = HyperLogLog.from_bytes(a.to_bytes()).merge(b).merge(c)
    m2 = HyperLogLog.from_bytes(c.to_bytes()).merge(a).merge(b)
    assert (m1.registers == m2.registers).all()
    est = m1.estimate()
    assert abs(est - 2000) / 2000 < 3 * m1.relative_error + 0.01


def test_hll_roundtrip():
    h = HyperLogLog(p=10, seed=5)
    h.update_tokens([str(i) for i in range(100)])
    back = sketch_from_bytes(h.to_bytes())
    assert (back.registers == h.registers).all()
    assert back.estimate() == h.estimate()


def _hll_with(p: int, n_set: int, seed: int) -> HyperLogLog:
    """An HLL with exactly ``n_set`` non-zero registers, ranks 1..60."""
    h = HyperLogLog(p=p, seed=1)
    rng = np.random.default_rng(seed)
    regs = rng.choice(h.m, size=n_set, replace=False)
    h.registers[regs] = rng.integers(1, 61, size=n_set, dtype=np.uint8)
    return h


def _dense_blob(h: HyperLogLog) -> bytes:
    """The dense layout every HLL state had before the sparse one."""
    import json
    import struct

    header = json.dumps(
        {
            "kind": "hll",
            "params": {"p": h.p, "seed": h.seed},
            "arrays": [{"name": "registers", "dtype": "uint8", "shape": [h.m]}],
            "extra": {},
        }
    ).encode()
    return b"SKS1" + struct.pack("<I", len(header)) + header + h.registers.tobytes()


@st.composite
def _hll_counts(draw):
    """p in 4..18 and a register count: empty, one, or next to the
    sparse/dense crossover at m/4, or anywhere."""
    p = draw(st.integers(4, 18))
    m = 1 << p
    n = draw(
        st.one_of(
            st.sampled_from([0, 1, m // 4 - 1, m // 4, m // 4 + 1, m]),
            st.integers(0, m),
        )
    )
    return p, n, draw(st.integers(0, 2**32 - 1))


@settings(max_examples=60, deadline=None)
@given(a=_hll_counts(), b_frac=st.floats(0, 1))
def test_hll_wire_format_sparse_and_dense(a, b_frac):
    p, n, seed = a
    h = _hll_with(p, n, seed)
    blob = h.to_bytes()
    back = HyperLogLog.from_bytes(blob)
    assert (back.registers == h.registers).all()
    assert back.estimate() == h.estimate()
    dense = _dense_blob(h)
    assert len(blob) <= len(dense)
    if 4 * n <= h.m:
        assert b'"pairs"' in blob
    # the legacy dense layout still decodes
    assert (HyperLogLog.from_bytes(dense).registers == h.registers).all()
    # sparse (+) dense merges equal the dense merge, in either order
    other = _hll_with(p, int(b_frac * h.m), seed + 1)
    want = np.maximum(h.registers, other.registers)
    for x, y in ((blob, _dense_blob(other)), (dense, other.to_bytes())):
        assert (HyperLogLog.from_bytes(x).merge(HyperLogLog.from_bytes(y)).registers == want).all()
        assert (HyperLogLog.from_bytes(y).merge(HyperLogLog.from_bytes(x)).registers == want).all()
    merged = HyperLogLog.from_bytes(blob).merge(HyperLogLog.from_bytes(other.to_bytes()))
    assert (HyperLogLog.from_bytes(merged.to_bytes()).registers == want).all()


def test_hll_legacy_blob_merges_with_updates():
    """A hand-built dense ``registers`` blob decodes, merges and keeps
    being updated like a fresh sketch."""
    h = HyperLogLog(p=12, seed=3)
    h.update_tokens([f"a{i}" for i in range(40)])
    legacy = HyperLogLog.from_bytes(_dense_blob(h))
    legacy.update_tokens([f"b{i}" for i in range(40)])
    h.update_tokens([f"b{i}" for i in range(40)])
    assert (legacy.registers == h.registers).all()
    assert legacy.to_bytes() == h.to_bytes()
    assert len(h.to_bytes()) < 1000


def test_hll_sparse_blob_with_bad_index_raises():
    h = HyperLogLog(p=4)
    h.registers[3] = 2
    blob = h.to_bytes()
    assert blob.endswith(np.array([3 << 8 | 2], np.uint32).tobytes())
    bad = blob[:-4] + np.array([16 << 8 | 2], np.uint32).tobytes()
    with pytest.raises(ValueError):
        HyperLogLog.from_bytes(bad)


# --------------------------------------------------------------------------
# Bloom
# --------------------------------------------------------------------------
def test_bloom_no_false_negatives():
    bf = BloomFilter(log2_bits=16, k=5, seed=1)
    members = [f"m{i}" for i in range(5000)]
    bf.update_tokens(members)
    assert bf.contains_tokens(members).all()


def test_bloom_fpr_near_analytic():
    bf = BloomFilter(log2_bits=16, k=5, seed=1)
    bf.update_tokens([f"m{i}" for i in range(5000)])
    probes = [f"x{i}" for i in range(20000)]
    fpr = bf.contains_tokens(probes).mean()
    assert fpr < 3 * bf.expected_fpr() + 0.01


def test_bloom_merge_or():
    a = BloomFilter(log2_bits=12, k=4, seed=2)
    b = BloomFilter(log2_bits=12, k=4, seed=2)
    a.update_tokens(["x", "y"])
    b.update_tokens(["z"])
    m = BloomFilter.from_bytes(a.to_bytes()).merge(b)
    assert m.contains_tokens(["x", "y", "z"]).all()
    # order invariance of the merged bit array
    m2 = BloomFilter.from_bytes(b.to_bytes()).merge(a)
    assert (m.words == m2.words).all()


def test_bloom_roundtrip():
    bf = BloomFilter(log2_bits=10, k=3, seed=7)
    bf.update_tokens(["p", "q"])
    back = sketch_from_bytes(bf.to_bytes())
    assert (back.words == bf.words).all()
    assert back.n_items == 2
    assert back.contains_tokens(["p", "q"]).all()


# --------------------------------------------------------------------------
# KLL
# --------------------------------------------------------------------------
def _rank_error(kll, values):
    values = np.sort(values)
    n = len(values)
    errs = []
    for q in [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]:
        est = kll.quantile(q)
        # a repeated value occupies a rank *interval*; error is the
        # distance from q to that interval
        lo = np.searchsorted(values, est, side="left") / n
        hi = np.searchsorted(values, est, side="right") / n
        errs.append(0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi)))
    return max(errs)


@pytest.mark.parametrize("dist", ["uniform", "lognormal", "constant_heavy"])
def test_kll_rank_error(dist):
    rng = np.random.default_rng(11)
    n = 100_000
    if dist == "uniform":
        v = rng.uniform(0, 1, n)
    elif dist == "lognormal":
        v = rng.lognormal(0, 2, n)
    else:
        v = np.concatenate([np.full(n // 2, 3.0), rng.normal(0, 1, n // 2)])
    k = KLL(k=200, seed=1)
    k.update_values(v)
    assert k.n == n
    assert _rank_error(k, v) < 0.025  # ~1.65% published for k=200 + slack


def test_kll_merge_within_bound():
    rng = np.random.default_rng(13)
    v = rng.normal(0, 1, 80_000)
    parts = []
    for chunk in np.array_split(v, 16):
        s = KLL(k=200, seed=1)
        s.update_values(chunk)
        parts.append(s)
    order = rng.permutation(16)
    acc = KLL.from_bytes(parts[order[0]].to_bytes())
    for i in order[1:]:
        acc.merge(parts[i])
    assert acc.n == len(v)
    assert _rank_error(acc, v) < 0.03


def test_kll_roundtrip():
    s = KLL(k=64, seed=3)
    s.update_values(np.arange(10_000, dtype=float))
    back = sketch_from_bytes(s.to_bytes())
    assert back.n == s.n
    for q in [0.1, 0.5, 0.9]:
        assert back.quantile(q) == s.quantile(q)


def test_kll_exact_when_small():
    s = KLL(k=200, seed=1)
    s.update_values(np.arange(100, dtype=float))
    # under one compaction's worth of data the sketch is exact
    assert s.quantile(0.0) == 0.0
    assert s.quantile(1.0) == 99.0
    assert abs(s.quantile(0.5) - 49.0) <= 1.0


@settings(max_examples=20, deadline=None)
@given(
    vals=st.lists(st.floats(-1e6, 1e6), min_size=1, max_size=500),
    splits=st.integers(1, 4),
)
def test_property_kll_weight_conservation(vals, splits):
    v = np.array(vals)
    parts = []
    for chunk in np.array_split(v, splits):
        s = KLL(k=16, seed=5)
        s.update_values(chunk)
        parts.append(s)
    acc = parts[0]
    for p in parts[1:]:
        acc.merge(p)
    it, w = acc._weighted_items()
    assert w.sum() == len(v)  # compaction preserves total weight exactly
    assert acc.n == len(v)


# --------------------------------------------------------------------------
# n-gram kernel consistency
# --------------------------------------------------------------------------
@settings(max_examples=30, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.text(alphabet="abcd", min_size=1, max_size=5), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(1, 3),
)
def test_property_ngram_occurrences_consistent(docs, n):
    """ngram_occurrences strings/hashes == brute-force enumeration, and
    hashes match token_hashes (the sketch-build path) exactly."""
    import pyarrow as pa

    from sketch_spark.functions.text import ngram_occurrences, token_hashes

    texts = pa.array([" ".join(d) for d in docs])
    keys, strs = ngram_occurrences(texts, seed=7, ngram=n)
    expected = []
    for d in docs:
        expected += [" ".join(d[i : i + n]) for i in range(len(d) - n + 1)]
    assert strs.to_pylist() == expected
    build_keys = token_hashes(texts, seed=7, ngram=n)
    assert (keys == build_keys).all()
    # equal n-grams -> equal hashes (and near-certainly vice versa)
    seen = {}
    for s, k in zip(expected, keys.tolist()):
        assert seen.setdefault(s, k) == k
