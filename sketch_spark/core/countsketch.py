"""Count-Sketch (Charikar–Chen–Farach-Colton 2002).

The signed sibling of Count-Min (/root/reference's CMCU family,
src/sketch.cpp:144-158): each row hashes the key to a bucket AND to a
sign in {-1, +1}; updates add ``sign * count``; the point estimate is
the median over rows of ``sign * counter``.  Unlike CM the estimate is
unbiased and two-sided: |est - true| <= 3 * sqrt(F2 / width) with
probability >= 1 - 2^-depth (F2 = sum of squared frequencies), which
beats CM's eps*N bound on skewed streams where F2 << N^2.

Merge is element-wise addition (linear sketch — also supports
*subtraction*, i.e. estimating count deltas between two streams).
Geometry, hashing, and serialization mirror ``CountMin`` exactly
(Dietzfelbinger multiply-shift rows; one extra derived seed family for
the sign bit).
"""

from __future__ import annotations

import numpy as np

from .base import Sketch, register, unique_with_counts
from .countmin import _CountMinBase
from .hashing import derive_seeds, mix_u64


@register
class CountSketch(_CountMinBase):
    kind = "cs"

    def __init__(self, depth: int = 5, log2_width: int = 14, seed: int = 1):
        super().__init__(depth=depth, log2_width=log2_width, seed=seed)
        self._sgn = derive_seeds(seed, "cs-sgn", depth)

    def _signs(self, keys: np.ndarray) -> np.ndarray:
        """(d, n) matrix of +-1 signs (top bit of a per-row mix)."""
        out = np.empty((self.depth, len(keys)), dtype=np.int64)
        for j in range(self.depth):
            bits = mix_u64(keys, np.uint64(self._sgn[j])) >> np.uint64(63)
            out[j] = 1 - 2 * bits.astype(np.int64)
        return out

    def update_hashed(self, keys: np.ndarray, counts: np.ndarray | None = None) -> None:
        if len(keys) == 0:
            return
        self._update_unique(*unique_with_counts(keys, counts))

    def _update_unique(self, keys: np.ndarray, counts: np.ndarray) -> None:
        idx = self._indices(keys)
        sgn = self._signs(keys)
        for j in range(self.depth):
            self.table[j] += np.bincount(
                idx[j], weights=(sgn[j] * counts).astype(np.float64), minlength=self.width
            ).astype(np.int64)
        self.total += int(counts.sum())

    def estimate_hashed(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.empty(0, dtype=np.int64)
        idx = self._indices(keys)
        sgn = self._signs(keys)
        vals = sgn * self.table[np.arange(self.depth)[:, None], idx]
        # median over rows; rint keeps the int64 estimate contract for
        # even depth (median of two middles can be half-integral)
        return np.rint(np.median(vals, axis=0)).astype(np.int64)

    def error_bound(self, f2: float) -> float:
        """3*sqrt(F2/w): holds per key with prob >= 1 - 2^-depth."""
        return 3.0 * float(np.sqrt(f2 / self.width))
