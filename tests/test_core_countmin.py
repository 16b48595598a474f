"""Layer-1 unit tests for CM/CMCU (SURVEY.md §5.2 L1).

The load-bearing claims, each tested directly:
  exact <= CMCU <= CM            (conservative update sandwich)
  CM <= exact + eps*N w.p. 1-d   (published Count-Min bound)
  merge(+) is associative/commutative and preserves the sandwich.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from sketch_spark.core import CountMin, CountMinCU, sketch_from_bytes
from sketch_spark.core.base import unique_with_counts
from tests.conftest import native_disabled, require_native


def zipf_tokens(rng, n, vocab=2000, a=1.3):
    ids = rng.zipf(a, size=n)
    ids = ids[ids <= vocab]
    return np.array([f"tok{i}" for i in ids])


def exact_counts(tokens):
    uniq, cnt = np.unique(tokens, return_counts=True)
    return dict(zip(uniq.tolist(), cnt.tolist()))


@pytest.fixture(scope="module")
def stream():
    rng = np.random.default_rng(7)
    return zipf_tokens(rng, 50_000)


def test_cm_never_underestimates(stream):
    cm = CountMin(depth=4, log2_width=14, seed=1)
    cm.update_tokens(stream)
    exact = exact_counts(stream)
    toks = list(exact)
    est = cm.estimate_tokens(toks)
    truth = np.array([exact[t] for t in toks])
    assert (est >= truth).all()


def test_cmcu_sandwich(stream):
    """exact <= CMCU <= CM, counter-wise and estimate-wise."""
    cm = CountMin(depth=4, log2_width=12, seed=1)
    cu = CountMinCU(depth=4, log2_width=12, seed=1)
    # same hash family (same seed/geometry) => comparable tables
    for off in range(0, len(stream), 4096):
        batch = stream[off : off + 4096]
        cm.update_tokens(batch)
        cu.update_tokens(batch)
    assert (cu.table <= cm.table).all()
    exact = exact_counts(stream)
    toks = list(exact)
    truth = np.array([exact[t] for t in toks])
    est_cu = cu.estimate_tokens(toks)
    est_cm = cm.estimate_tokens(toks)
    assert (est_cu >= truth).all(), "CU must never underestimate"
    assert (est_cu <= est_cm).all(), "CU must never exceed plain CM"


def test_epsilon_delta_bound(stream):
    """P[est > exact + eps*N] <= delta for the reference geometry."""
    cm = CountMin(depth=4, log2_width=14, seed=3)
    cm.update_tokens(stream)
    exact = exact_counts(stream)
    toks = list(exact)
    truth = np.array([exact[t] for t in toks])
    est = cm.estimate_tokens(toks)
    violations = (est.astype(float) > truth + cm.epsilon * cm.total).mean()
    assert violations <= cm.delta


def test_merge_equals_single_pass_cm(stream):
    """CM merge is an exact homomorphism: split-merge == one pass."""
    whole = CountMin(depth=4, log2_width=12, seed=5)
    whole.update_tokens(stream)
    parts = []
    for chunk in np.array_split(stream, 7):
        s = CountMin(depth=4, log2_width=12, seed=5)
        s.update_tokens(chunk)
        parts.append(s)
    merged = parts[0]
    for p in parts[1:]:
        merged.merge(p)
    assert (merged.table == whole.table).all()
    assert merged.total == whole.total


def test_merged_cmcu_bounds(stream):
    """Merged CMCU partials still satisfy exact <= est <= CM-merged."""
    chunks = np.array_split(stream, 8)
    cm_parts, cu_parts = [], []
    for ch in chunks:
        a = CountMin(depth=4, log2_width=12, seed=9)
        b = CountMinCU(depth=4, log2_width=12, seed=9)
        a.update_tokens(ch)
        b.update_tokens(ch)
        cm_parts.append(a)
        cu_parts.append(b)
    cm = cm_parts[0]
    cu = cu_parts[0]
    for a, b in zip(cm_parts[1:], cu_parts[1:]):
        cm.merge(a)
        cu.merge(b)
    exact = exact_counts(stream)
    toks = list(exact)
    truth = np.array([exact[t] for t in toks])
    assert (cu.estimate_tokens(toks) >= truth).all()
    assert (cu.table <= cm.table).all()


def test_merge_order_invariance(stream):
    """Summed counters are identical under any merge permutation."""
    chunks = np.array_split(stream, 6)

    def build(order):
        parts = []
        for ch in chunks:
            s = CountMinCU(depth=4, log2_width=12, seed=11)
            s.update_tokens(ch)
            parts.append(s)
        acc = parts[order[0]]
        for i in order[1:]:
            acc.merge(parts[i])
        return acc

    a = build([0, 1, 2, 3, 4, 5])
    b = build([5, 3, 1, 0, 2, 4])
    assert (a.table == b.table).all()
    assert a.to_bytes() == b.to_bytes()


def test_serialization_roundtrip(stream):
    cu = CountMinCU(depth=4, log2_width=12, seed=13)
    cu.update_tokens(stream[:10_000])
    blob = cu.to_bytes()
    back = sketch_from_bytes(blob)
    assert isinstance(back, CountMinCU)
    assert (back.table == cu.table).all()
    assert back.total == cu.total
    assert back.to_bytes() == blob
    # deserialized sketch keeps hashing identically
    toks = ["tok1", "tok42", "neverseen"]
    assert (back.estimate_tokens(toks) == cu.estimate_tokens(toks)).all()


def test_weighted_updates_match_repeats():
    cu1 = CountMinCU(depth=4, log2_width=10, seed=17)
    cu2 = CountMinCU(depth=4, log2_width=10, seed=17)
    toks = np.array(["a", "b", "c"])
    counts = np.array([5, 3, 2])
    cu1.update_tokens(toks, counts)
    cu2.update_tokens(np.repeat(toks, counts))
    assert (cu1.table == cu2.table).all()


def test_unique_with_counts():
    keys = np.array([3, 1, 3, 2, 1, 1], dtype=np.uint64)
    uk, c = unique_with_counts(keys)
    assert uk.tolist() == [1, 2, 3]
    assert c.tolist() == [3, 1, 2]
    uk2, c2 = unique_with_counts(keys, np.array([1, 1, 1, 1, 1, 10]))
    assert c2.tolist() == [12, 1, 2]


@settings(max_examples=25, deadline=None)
@given(
    toks=st.lists(st.text(alphabet="abcdef", min_size=0, max_size=12), max_size=200),
    nparts=st.integers(1, 5),
)
def test_property_cm_merge_homomorphism(toks, nparts):
    arr = np.array(toks, dtype=object) if toks else np.empty(0, dtype=object)
    whole = CountMin(depth=3, log2_width=8, seed=23)
    if len(arr):
        whole.update_tokens(arr.astype(str))
    parts = []
    for chunk in np.array_split(arr, nparts):
        s = CountMin(depth=3, log2_width=8, seed=23)
        if len(chunk):
            s.update_tokens(chunk.astype(str))
        parts.append(s)
    acc = parts[0]
    for p in parts[1:]:
        acc.merge(p)
    assert (acc.table == whole.table).all()


# ------------------------------------------- compiled update vs numpy update


def _native_and_fallback(build):
    """``build()`` run on the compiled kernel and on the numpy fallback."""
    require_native()
    nat = build()
    with native_disabled():
        fb = build()
    assert nat.to_bytes() == fb.to_bytes(), "native and fallback states differ"
    return nat, fb


def _exact(keys, counts=None):
    out = {}
    for i, k in enumerate(keys.tolist()):
        out[k] = out.get(k, 0) + (1 if counts is None else counts[i])
    return out


def test_cmcu_native_duplicate_keys_in_batch():
    keys = np.array([5, 9, 5, 5, 2**63, 9, 0, 2**64 - 1, 0], dtype=np.uint64)
    weights = np.arange(len(keys), dtype=np.int64)

    order = np.argsort(keys, kind="stable")
    uk, uc = unique_with_counts(keys)

    def build():
        cu = CountMinCU(depth=4, log2_width=4, seed=3)
        cu.update_hashed(keys)
        cu.update_hashed(keys, weights)
        # sorted with repeats must still aggregate; strictly increasing need not
        cu.update_hashed(keys[order], weights[order])
        cu.update_hashed(uk, uc)
        return cu

    for cu in _native_and_fallback(build):
        weighted = _exact(keys, weights)
        exact = {k: 2 * n + 2 * weighted[k] for k, n in _exact(keys).items()}
        uk = np.array(list(exact), dtype=np.uint64)
        assert (cu.estimate_hashed(uk) >= np.array(list(exact.values()))).all()
        assert cu.total == 2 * len(keys) + 2 * int(weights.sum())


def test_cmcu_native_sums_tokens_sharing_a_hash():
    """Tokens longer than 64 bytes hash their first 64 bytes and their
    length, so these two collide; their counts must add, not max."""
    a, b = "p" * 64 + "x", "p" * 64 + "y"
    cm = CountMinCU(depth=4, log2_width=10, seed=5)
    ha, hb = cm.hash_tokens([a, b])
    assert ha == hb

    def build():
        cu = CountMinCU(depth=4, log2_width=10, seed=5)
        cu.update_tokens([a, b, a, "q"])
        cu.update_tokens(np.array([a, b]), np.array([2, 5]))
        return cu

    for cu in _native_and_fallback(build):
        assert cu.estimate_tokens([a])[0] >= 3 + 7
        assert cu.estimate_tokens(["q"])[0] >= 1


def test_cmcu_native_weighted_int_and_float_counts():
    keys = np.array([11, 12, 11, 13, 12, 11], dtype=np.uint64)
    ints = np.array([3, 0, 7, 2**40, 1, 2], dtype=np.int64)
    small = np.array([1, 2, 3, 4, 5, 6], dtype=np.uint16)
    floats = np.array([0.5, 0.7, 2.9, 1.2, 0.4, 0.2])

    def build():
        cu = CountMinCU(depth=3, log2_width=5, seed=7)
        cu.update_hashed(keys, ints)
        cu.update_hashed(keys, small)
        cu.update_hashed(keys, floats)
        return cu

    for cu in _native_and_fallback(build):
        want = _exact(keys, ints)
        for k, c in _exact(keys, small.astype(np.int64)).items():
            want[k] += c
        # float weights sum per key in float64, then truncate
        for k, c in _exact(keys, floats).items():
            want[k] += int(c)
        uk = np.array(list(want), dtype=np.uint64)
        assert (cu.estimate_hashed(uk) >= np.array(list(want.values()))).all()


def test_cmcu_native_zero_length_input():
    empty = np.empty(0, dtype=np.uint64)

    def build():
        cu = CountMinCU(depth=4, log2_width=6, seed=1)
        cu.update_hashed(empty)
        cu.update_hashed(empty, np.empty(0, dtype=np.int64))
        cu._update_unique(empty, np.empty(0, dtype=np.int64))
        cu.update_tokens([])
        return cu

    for cu in _native_and_fallback(build):
        assert cu.total == 0 and not cu.table.any()
        assert cu.to_bytes() == CountMinCU(depth=4, log2_width=6, seed=1).to_bytes()


def test_cmcu_native_updates_a_deserialized_table(stream):
    half = len(stream) // 2
    first = CountMinCU(depth=4, log2_width=9, seed=2)
    first.update_tokens(stream[:half])
    blob = first.to_bytes()

    def build():
        cu = sketch_from_bytes(blob)
        cu.update_tokens(stream[half:])
        return cu

    for cu in _native_and_fallback(build):
        exact = exact_counts(stream)
        toks = list(exact)
        assert (cu.estimate_tokens(toks) >= np.array([exact[t] for t in toks])).all()
        assert cu.total == len(stream)


@pytest.mark.parametrize("cls,depth,log2_width", [(CountMinCU, 4, 14), (CountMin, 1, 4), (CountMin, 7, 20)])
def test_estimate_hashed_equals_2d_gather(cls, depth, log2_width):
    """The row-at-a-time estimate against the (depth, n) gather over
    ``bucket_indices`` it replaced."""
    from sketch_spark.core.hashing import bucket_indices

    rng = np.random.default_rng(5)
    keys = rng.integers(0, 2**64, 50_000, dtype=np.uint64)
    sk = cls(depth=depth, log2_width=log2_width, seed=9)
    sk.update_hashed(keys[:20_000], rng.integers(1, 5, 20_000))
    idx = bucket_indices(keys, sk._a, sk._b, sk.log2_width)
    want = sk.table[np.arange(sk.depth)[:, None], idx].min(axis=0)
    got = sk.estimate_hashed(keys)
    assert got.dtype == want.dtype and np.array_equal(got, want)
    assert len(sk.estimate_hashed(keys[:0])) == 0
