"""Count-Min and Count-Min-with-Conservative-Update (CMCU) sketches.

The reference's core operator is a CMCU update loop over a dense
``d x w`` int counter matrix (/root/reference/src/sketch.cpp:144-158,
Sketch.hpp:5-6: d=N_HASH=4, w=2^HASH_BITS=16384).  This module
re-expresses it as batch-vectorized numpy over hashed-key arrays:

* ``CountMin.update_hashed``: ``table[j, h_j(x)] += c`` for all rows —
  batch-order-insensitive; merge = element-wise ``+`` is an exact
  homomorphism.
* ``CountMinCU.update_hashed``: *batch conservative update*.  Duplicate
  keys in the batch are pre-aggregated, then every key is updated
  against the pre-batch counters: ``est = min_j table[j, h_j]``,
  ``table[j, h_j] = max(table[j, h_j], est + c)`` (``np.maximum.at``
  resolves intra-batch bucket collisions exactly like simultaneous
  conservative updates).  This is the distributed-safe formulation of
  the reference's per-item CU (sketch.cpp:154-158).  With uint64 keys
  and integer counts it runs as one compiled pass (``native.cmcu_update``:
  aggregate in L2-sized hash partitions, read every minimum, then
  scatter-max); the numpy code is its byte-identical fallback.

Guarantees (proved in tests/test_core_countmin.py):
  exact_count <= CMCU estimate <= CM estimate <= exact + eps*N with
  probability >= 1 - delta, where eps = e/w, delta = e^-d
  (Cormode–Muthukrishnan 2005; conservative update per Estan–Varghese
  2002 never underestimates and never exceeds plain CM).  Merging
  partials by ``+`` preserves both inequalities: for each bucket,
  min_j sum_p A_p[j,h] >= sum_p min_j A_p[j,h] >= sum_p truth_p.
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from . import native
from .base import Sketch, register, unique_with_counts
from .hashing import bucket_indices, derive_seeds, hash_strings


class _CountMinBase(Sketch):
    def __init__(self, depth: int = 4, log2_width: int = 14, seed: int = 1):
        if not (1 <= depth <= 16):
            raise ValueError("depth must be in [1, 16]")
        if not (4 <= log2_width <= 30):
            raise ValueError("log2_width must be in [4, 30]")
        self.depth = depth
        self.log2_width = log2_width
        self.width = 1 << log2_width
        self.seed = seed
        self.table = np.zeros((depth, self.width), dtype=np.int64)
        self.total = 0  # total weight inserted (for the eps*N bound)
        # label is kind-independent: CM and CMCU with equal (seed, geometry)
        # share one hash family, making their tables directly comparable
        # (the CU <= CM sandwich is counter-wise).
        self._a = derive_seeds(seed, "cm-a", depth)
        self._b = derive_seeds(seed, "cm-b", depth)

    # -- serialization ------------------------------------------------------
    def _params(self) -> dict[str, Any]:
        return {"depth": self.depth, "log2_width": self.log2_width, "seed": self.seed}

    def _arrays(self) -> dict[str, np.ndarray]:
        return {"table": self.table}

    def _extra_state(self) -> dict[str, Any]:
        return {"total": int(self.total)}

    def _load_extra_state(self, extra: dict[str, Any]) -> None:
        self.total = int(extra.get("total", 0))

    # -- hashing ------------------------------------------------------------
    def _indices(self, keys: np.ndarray) -> np.ndarray:
        return bucket_indices(keys, self._a, self._b, self.log2_width)

    def hash_tokens(self, tokens) -> np.ndarray:
        """Arrow/str-like tokens -> uint64 keys (shared key space per seed)."""
        return hash_strings(tokens, seed=self.seed)

    # -- queries ------------------------------------------------------------
    def estimate_hashed(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.empty(0, dtype=np.int64)
        # bucket_indices row by row: n-length temporaries, never (depth, n)
        shift = np.uint64(64 - self.log2_width)
        a = self._a | np.uint64(1)
        h = np.empty(len(keys), dtype=np.uint64)
        est = None
        for j in range(self.depth):
            np.multiply(keys, a[j], out=h)
            h += self._b[j]
            h >>= shift
            row = self.table[j].take(h.view(np.int64))
            est = row if est is None else np.minimum(est, row, out=est)
        return est

    def estimate_tokens(self, tokens) -> np.ndarray:
        return self.estimate_hashed(self.hash_tokens(tokens))

    def update_tokens(self, tokens, counts: np.ndarray | None = None) -> None:
        self.update_hashed(self.hash_tokens(tokens), counts)

    @property
    def epsilon(self) -> float:
        return math.e / self.width

    @property
    def delta(self) -> float:
        return math.exp(-self.depth)

    def error_bound(self) -> float:
        """Additive error eps*N holding with probability >= 1 - delta."""
        return self.epsilon * self.total

    # -- merge --------------------------------------------------------------
    def merge(self, other: "Sketch") -> "_CountMinBase":
        if type(other) is not type(self) or other._params() != self._params():
            raise ValueError("can only merge identically-configured sketches")
        self.table += other.table
        self.total += other.total
        return self


@register
class CountMin(_CountMinBase):
    """Classic Count-Min: increment every row's counter."""

    kind = "cm"

    def update_hashed(self, keys: np.ndarray, counts: np.ndarray | None = None) -> None:
        if len(keys) == 0:
            return
        self._update_unique(*unique_with_counts(keys, counts))

    def _update_unique(self, keys: np.ndarray, counts: np.ndarray) -> None:
        idx = self._indices(keys)
        for j in range(self.depth):
            self.table[j] += np.bincount(
                idx[j], weights=counts.astype(np.float64), minlength=self.width
            ).astype(np.int64)
        self.total += int(counts.sum())


@register
class CountMinCU(_CountMinBase):
    """Count-Min with conservative update (the reference's core)."""

    kind = "cmcu"

    def update_hashed(self, keys: np.ndarray, counts: np.ndarray | None = None) -> None:
        if len(keys) == 0:
            return
        if native.cmcu_update(self.table, self._a, self._b, keys, counts, unique=False):
            self.total += len(keys) if counts is None else int(counts.astype(np.int64).sum())
            return
        self._update_numpy(*unique_with_counts(keys, counts))

    def _update_unique(self, keys: np.ndarray, counts: np.ndarray) -> None:
        if len(keys) == 0:
            return
        if native.cmcu_update(self.table, self._a, self._b, keys, counts, unique=True):
            self.total += int(counts.sum())
            return
        self._update_numpy(keys, counts)

    def _update_numpy(self, uk: np.ndarray, c: np.ndarray) -> None:
        idx = self._indices(uk)
        rows = np.arange(self.depth)[:, None]
        cur = self.table[rows, idx]  # (d, n) pre-batch counters
        new_val = cur.min(axis=0) + c
        for j in range(self.depth):
            np.maximum.at(self.table[j], idx[j], new_val)
        self.total += int(c.sum())
