"""Compiled sketch kernels (core/native.py) against their numpy twins.

The fused pass's tokens mode hashes every token occurrence, rolls the
n-gram combine and runs the CMCU update in C when a compiler exists,
and in numpy otherwise; every other operator hashes its tokens through
the same ``hash_strings``.  Both paths must leave byte-identical
serialized states, for every hashed sketch kind and n-gram order, and
byte-identical operator outputs, on text that exercises the
tokenizer's edges: every code point of ``_WS_CLASS``, NULL / empty /
whitespace-only rows, tokens past the 64-byte hash prefix, rows
shorter than the order, and sliced, chunked and ``large_string``
arrays.
"""

import logging
import tempfile
import tracemalloc

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from sketch_spark.core import native, unique_with_counts
from sketch_spark.core.hashing import _hash_strings_numpy, _string_buffers, hash_strings
from sketch_spark.functions.text import GramCounts, ngram_occurrences, token_hashes
from sketch_spark.operators.dedup import (
    _ngram_hash_positions,
    _shingle_hashes,
    _simhash_fingerprints,
    _token_doc_freqs,
)
from sketch_spark.operators.aggregate import SketchSpec
from tests.conftest import native_disabled, require_native

# the 29 code points of text._WS_CLASS: the Unicode White_Space
# property (PropList.txt, 25 code points) plus U+001C-U+001F
WHITE_SPACE = (
    [chr(c) for c in range(0x09, 0x0E)]
    + [chr(c) for c in range(0x1C, 0x20)]
    + ["\x20", "\x85", "\xa0", "\u1680"]
    + [chr(c) for c in range(0x2000, 0x200B)]
    + ["\u2028", "\u2029", "\u202f", "\u205f", "\u3000"]
)

PARAMS = {
    "cmcu": {"depth": 4, "log2_width": 8, "seed": 3},
    "cm": {"depth": 3, "log2_width": 8, "seed": 3},
    "cs": {"depth": 3, "log2_width": 8, "seed": 3},
    "hll": {"p": 8, "seed": 3},
    "bloom": {"log2_bits": 12, "k": 3, "seed": 3},
}
SPECS = [
    SketchSpec(f"{kind}{n}", kind, "text", ngram=n, params=params)
    for kind, params in PARAMS.items()
    for n in (1, 2, 3, 4)
] + [SketchSpec("cmcu_lower2", "cmcu", "text", ngram=2, lowercase=True, params=PARAMS["cmcu"])]

_word = st.one_of(
    st.sampled_from(["a", "b", "ab", "Ab", "é", "日本", "x\x00y", "q" * 64 + "s", "q" * 64 + "t"]),
    st.text(st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=6),
    st.builds(lambda w, c: w * 65 + c, st.sampled_from(["z", "ü"]), st.sampled_from(["1", "2"])),
)
_row = st.one_of(
    st.none(),
    st.just(""),
    st.lists(st.sampled_from(WHITE_SPACE), min_size=1, max_size=3).map("".join),
    st.lists(
        st.tuples(st.lists(st.sampled_from(WHITE_SPACE), min_size=1, max_size=2), _word),
        max_size=8,
    ).map(lambda parts: "".join("".join(ws) + w for ws, w in parts)),
)


def _layout(rows: list, layout: str, string_type) -> pa.Array | pa.ChunkedArray:
    """The same rows as a plain, sliced or chunked Arrow array."""
    if layout == "sliced":
        return pa.array(["pad  row"] + rows + ["tail"], string_type).slice(1, len(rows))
    if layout == "chunked":
        cut = len(rows) // 2
        return pa.chunked_array(
            [pa.array(rows[:cut], string_type), pa.array(rows[cut:], string_type)], string_type
        )
    return pa.array(rows, string_type)


def _feed_states(batches) -> dict[str, bytes]:
    """Every spec fed by the fused pass's per-batch loop, serialized."""
    sketches = {s.name: s.make() for s in SPECS}
    n_values = {}
    for col in batches:
        cache: dict = {}
        for s in SPECS:
            n_values[s.name] = n_values.get(s.name, 0) + s.feed(sketches[s.name], col, cache=cache)
    return {name: sk.to_bytes() for name, sk in sketches.items()} | {
        "n_values": repr(sorted(n_values.items())).encode()
    }


def _reference_states(batches) -> dict[str, bytes]:
    """The same updates without GramCounts or the private entry point:
    per-occurrence numpy hashes, aggregated, through update_hashed."""
    sketches = {s.name: s.make() for s in SPECS}
    for col in batches:
        for s in SPECS:
            keys = token_hashes(col, seed=s._seed(), ngram=s.ngram, lowercase=s.lowercase)
            if len(keys):
                sketches[s.name].update_hashed(*unique_with_counts(keys))
    return {name: sk.to_bytes() for name, sk in sketches.items()}


@settings(max_examples=40, deadline=None)
@given(
    batches=st.lists(st.lists(_row, max_size=12), min_size=1, max_size=3),
    layout=st.sampled_from(["plain", "sliced", "chunked"]),
    large=st.booleans(),
)
def test_native_and_fallback_states_are_byte_identical(batches, layout, large):
    require_native()
    string_type = pa.large_string() if large else pa.string()
    cols = [_layout(rows, layout, string_type) for rows in batches]
    nat = _feed_states(cols)
    with native_disabled():
        fb = _feed_states(cols)
        ref = _reference_states(cols)
    assert nat == fb
    assert {k: v for k, v in fb.items() if k != "n_values"} == ref


def test_every_white_space_code_point_separates_tokens():
    require_native()
    text = "a" + "a".join(WHITE_SPACE) + "a"
    col = pa.array([text, None, "", " \u3000 "])

    def counts():
        grams = GramCounts(col, seed=1)
        return {n: grams.counts(n)[1].tolist() for n in (1, 2, 3, 4)}

    nat = counts()
    with native_disabled():
        fb = counts()
    n_tokens = len(WHITE_SPACE) + 1
    assert nat == fb == {n: [n_tokens + 1 - n] for n in (1, 2, 3, 4)}


@settings(max_examples=60, deadline=None)
@given(
    values=st.lists(st.one_of(st.none(), st.binary(max_size=80)), max_size=30),
    seed=st.integers(0, 2**64 - 1),
    start=st.integers(0, 5),
)
def test_native_hash_strings_matches_numpy(values, seed, start):
    require_native()
    arr = pa.array(values, pa.binary())
    for a in (arr, arr.slice(min(start, len(arr))), arr.cast(pa.large_binary())):
        assert (hash_strings(a, seed) == _hash_strings_numpy(*_string_buffers(a), seed)).all()


def _canon(x):
    """Arrays, Arrow arrays and nested tuples as comparable values."""
    if isinstance(x, tuple):
        return tuple(_canon(v) for v in x)
    if isinstance(x, np.ndarray):
        return x.dtype.str, x.tobytes()
    if isinstance(x, (pa.Array, pa.ChunkedArray)):
        return x.to_pylist()
    return x


def _operator_outputs(col) -> dict:
    """What each operator that hashes tokens derives from one batch."""
    out = {f"shingles{k}": _shingle_hashes(col, k, seed=5) for k in (1, 3)}
    out |= {f"positions{n}": _ngram_hash_positions(col, n, seed=5) for n in (1, 2, 3)}
    out |= {f"occurrences{n}": ngram_occurrences(col, 5, n, lowercase=n == 2) for n in (1, 2, 3)}
    hashes, dfs = out["doc_freqs"] = _token_doc_freqs(col, seed=5)
    head = hashes[np.argsort(-dfs, kind="stable")[:3]]
    out["simhash"] = _simhash_fingerprints(col, 5, None)
    out["simhash_drop_top_df"] = _simhash_fingerprints(col, 5, head)
    spec = SketchSpec("hll", "hll", "text", mode="value", params=PARAMS["hll"])
    hll = spec.make()
    spec.feed(hll, col)
    out["value_mode_hll"] = hll.to_bytes()
    return {k: _canon(v) for k, v in out.items()}


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(_row, max_size=12),
    layout=st.sampled_from(["plain", "sliced", "chunked"]),
    large=st.booleans(),
)
def test_operator_hashes_native_equal_fallback(rows, layout, large):
    """MinHash shingles, SimHash (with and without the top-df drop) and
    its df counts, the dup-span positions, ``ngram_occurrences`` and a
    value-mode HLL, on both hash paths."""
    require_native()
    col = _layout(rows, layout, pa.large_string() if large else pa.string())
    nat = _operator_outputs(col)
    with native_disabled():
        assert _operator_outputs(col) == nat


def test_fallback_hash_memory_is_set_by_the_batch_not_its_longest_token():
    """One 200-byte URL in a batch of about 1 M short tokens must not
    widen the numpy fallback's working set to the URL's length."""
    rng = np.random.default_rng(0)
    vocab = np.array([f"w{i}" for i in range(5000)], dtype=object)
    batch = pa.array(vocab[np.minimum(rng.zipf(1.3, 1_000_000), 5000) - 1], pa.string())
    with_url = pa.concat_arrays([batch, pa.array(["u" * 200])])

    def peak(arr) -> int:
        tracemalloc.start()
        try:
            hash_strings(arr, seed=1)
            return tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()

    with native_disabled():
        short, long = peak(batch), peak(with_url)
    assert long <= 1.5 * short, (short, long)


def test_native_kernels_reject_malformed_buffers():
    require_native()
    data = np.frombuffer(b"abcdef", np.uint8)
    with pytest.raises(ValueError, match="outside"):
        native.hash_strings(data, np.array([0, 3, 9], np.int32), 0, 64)
    with pytest.raises(ValueError, match="outside"):
        native.hash_strings(data, np.array([-1, 3], np.int64), 0, 64)
    with pytest.raises(ValueError, match="negative length"):
        native.hash_strings(data, np.array([0, 4, 2, 6], np.int64), 0, 64)
    with pytest.raises(ValueError, match="parents"):
        native.gram_counts(np.zeros(3, np.uint64), np.zeros(2, np.int64), 2)
    table = np.zeros((2, 16), np.int64)
    ab = np.ones(2, np.uint64)
    with pytest.raises(ValueError, match="counts"):
        native.cmcu_update(table, ab, ab, np.zeros(3, np.uint64), np.ones(2, np.int64), False)
    for bad in (np.zeros((2, 12), np.int64), np.zeros((2, 1), np.int64), np.zeros((3, 16), np.int64)):
        with pytest.raises(ValueError, match="malformed"):
            native.cmcu_update(bad, ab, ab, np.zeros(1, np.uint64), None, False)


def _small_states() -> dict[str, bytes]:
    col = pa.array(["the cat sat", "on the mat", None, "the cat " + "w" * 70])
    return _feed_states([col, col.slice(1)])


def test_missing_compiler_warns_once_and_falls_back(monkeypatch, tmp_path, caplog):
    want = _small_states()
    # no cached library and no compiler: the first kernel call must say why
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setenv("PATH", str(tmp_path))
    monkeypatch.delenv("SKETCH_SPARK_NO_NATIVE", raising=False)
    monkeypatch.setattr(native, "_lib", None)
    monkeypatch.setattr(native, "_tried", False)
    with caplog.at_level(logging.WARNING, logger=native.__name__):
        got = _small_states()
        _small_states()
    warned = [r for r in caplog.records if r.name == native.__name__]
    assert len(warned) == 1 and warned[0].levelno == logging.WARNING
    assert "no C compiler" in warned[0].getMessage()
    assert got == want


def test_kill_switch_falls_back_silently(monkeypatch, caplog):
    monkeypatch.setenv("SKETCH_SPARK_NO_NATIVE", "1")
    monkeypatch.setattr(native, "_lib", None)
    monkeypatch.setattr(native, "_tried", False)
    with caplog.at_level(logging.WARNING, logger=native.__name__):
        _small_states()
    assert native._get() is None
    assert not [r for r in caplog.records if r.name == native.__name__]
