"""Vectorized hashing primitives shared by every sketch.

Design (all public-knowledge building blocks):

* Token -> ``uint64`` key: an FNV-1a-style polynomial byte hash read
  straight from the Arrow string buffers (no per-row Python — mirrors
  the reference's fused byte-stream hashing loop, src/sketch.cpp:136-138),
  in one compiled pass or, without the kernels, as numpy byte-column
  sweeps.
* ``uint64`` key -> d row hashes: Dietzfelbinger multiply-add-shift
  family ``h_j(x) = (a_j * x + b_j) >> (64 - log2(w))`` with odd ``a_j``
  — a 2-universal family, which is what the Count-Min (eps, delta)
  analysis requires (Cormode–Muthukrishnan 2005).  The reference uses an
  H3 XOR-of-seeds family (/root/reference/src/sketch.cpp:79-84) — also
  2-universal; we keep the *family property*, not the bit layout.

All seeds are derived deterministically from a single integer seed via
splitmix64 so that every executor regenerates identical hash functions
from an O(1)-size spec instead of shipping seed tables (the Spark
analogue of the reference's constant-memory seed broadcast,
/root/reference/src/sketch.cu:301-309).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from . import native

__all__ = [
    "splitmix64",
    "derive_seeds",
    "hash_strings",
    "hash_u64",
    "mix_u64",
    "bitlen_u64",
    "bucket_indices",
]

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)

_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def splitmix64(x: int) -> int:
    """Scalar splitmix64 step: deterministic stream of 64-bit values."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return (z ^ (z >> 31)) & 0xFFFFFFFFFFFFFFFF


def derive_seeds(seed: int, label: str, n: int) -> np.ndarray:
    """``n`` deterministic uint64 seeds for a named hash-function role.

    ``label`` namespaces roles (e.g. "cm-a", "cm-b", "hll") so sketches
    sharing one user seed still get independent functions.
    """
    state = seed & 0xFFFFFFFFFFFFFFFF
    for ch in label.encode():
        state = splitmix64(state ^ ch)
    out = np.empty(n, dtype=np.uint64)
    for i in range(n):
        state = splitmix64(state)
        out[i] = state
    return out


def mix_u64(keys: np.ndarray, seed: np.uint64) -> np.ndarray:
    """Vectorized splitmix64 finalizer over a uint64 array, seeded."""
    z = keys.astype(np.uint64, copy=True)
    z ^= np.uint64(seed)
    z = (z + _SM_GAMMA) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = (z ^ (z >> np.uint64(30))) * _SM_M1
    z = (z ^ (z >> np.uint64(27))) * _SM_M2
    z ^= z >> np.uint64(31)
    return z


def _string_buffers(arr) -> tuple[np.ndarray, np.ndarray]:
    """(data bytes, int32 or int64 offsets[n+1]) view of a string/binary
    array; anything that is not Arrow converts as ``pa.string()``."""
    if not isinstance(arr, (pa.Array, pa.ChunkedArray)):
        arr = pa.array(arr, type=pa.string())
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if len(arr) == 0:  # an empty array may carry no offsets buffer
        return np.zeros(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    t = arr.type
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        odtype = np.int64
    elif pa.types.is_string(t) or pa.types.is_binary(t):
        odtype = np.int32
    else:  # e.g. string_view from newer readers — normalize
        arr = arr.cast(pa.large_string() if t != pa.binary() else pa.large_binary())
        odtype = np.int64
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=odtype)[arr.offset : arr.offset + len(arr) + 1]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, dtype=np.uint8)
    )
    return data, offsets


def hash_strings(arr, seed: int = 0, max_len: int = 64) -> np.ndarray:
    """Hash a string/binary array (Arrow, or anything ``pa.array``
    converts to strings) to one uint64 per string: FNV-1a over the
    first ``max_len`` bytes, then the exact byte length folded in and a
    splitmix64 finalizer.  Tokens longer than ``max_len`` that share
    their first ``max_len`` bytes and their length share a hash —
    deterministic, collision risk confined to long near-identical
    tokens.  Nulls hash as empty strings; callers drop nulls first when
    that matters.

    The package's one string hash: every token, n-gram base and value
    key is hashed here.  With the compiled kernels (``core/native.py``)
    one pass reads the Arrow buffers; without them
    ``_hash_strings_numpy`` computes the same bits.
    """
    data, offsets = _string_buffers(arr)
    h = native.hash_strings(data, offsets, _hash_init(seed), max_len)
    return _hash_strings_numpy(data, offsets, seed, max_len) if h is None else h


def _hash_strings_numpy(
    data: np.ndarray, offsets: np.ndarray, seed: int = 0, max_len: int = 64
) -> np.ndarray:
    """``hash_strings`` in numpy over ``_string_buffers`` output: byte
    column j is folded into the rows still longer than j, so memory is
    a few arrays of length n, whatever the longest string (one URL in
    a batch of words) is."""
    offsets = offsets.astype(np.int64, copy=False)
    lengths = offsets[1:] - offsets[:-1]
    eff_len = np.minimum(lengths, max_len)
    h = np.full(len(lengths), _FNV_OFFSET ^ np.uint64(_hash_init(seed)), dtype=np.uint64)
    rows = np.flatnonzero(eff_len > 0)
    j = 0
    while len(rows):
        h[rows] = (h[rows] ^ data[offsets[rows] + j]) * _FNV_PRIME
        j += 1
        rows = rows[eff_len[rows] > j]
    h ^= lengths.astype(np.uint64)
    return mix_u64(h, np.uint64(0))


def _hash_init(seed: int) -> int:
    return splitmix64(seed ^ 0xA076_1D64_78BD_642F)


def hash_u64(values: np.ndarray, seed: int = 0) -> np.ndarray:
    """Hash numeric (int/uint64-castable) values to uint64 keys."""
    v = np.asarray(values)
    if v.dtype.kind == "f":
        v = v.view(np.uint64) if v.dtype == np.float64 else v.astype(np.float64).view(np.uint64)
    else:
        v = v.astype(np.int64, copy=False).view(np.uint64)
    return mix_u64(v, np.uint64(splitmix64(seed)))


def bitlen_u64(v: np.ndarray) -> np.ndarray:
    """Vectorized bit length of uint64 values (0 -> 0)."""
    v = v.astype(np.uint64, copy=True)
    r = np.zeros(v.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        t = v >> np.uint64(s)
        m = t > 0
        r[m] += s
        v = np.where(m, t, v)
    r[v > 0] += 1
    return r


def bucket_indices(
    keys: np.ndarray, a: np.ndarray, b: np.ndarray, log2_width: int
) -> np.ndarray:
    """(d, n) bucket indices via multiply-add-shift: ((a*x+b) >> (64-log2w)).

    ``a`` entries are forced odd (required for the universality proof).
    """
    shift = np.uint64(64 - log2_width)
    a = a | np.uint64(1)
    # broadcast: (d, 1) * (n,) -> (d, n), uint64 wraparound
    prod = a[:, None] * keys[None, :] + b[:, None]
    return (prod >> shift).astype(np.int64)
