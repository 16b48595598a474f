"""t-digest quantile sketch (Dunning & Ertl, "Computing extremely
accurate quantiles using t-digests", 2019) — the SURVEY §2.3 stretch
member of the family.

Merging-digest variant: incoming values buffer until a compress pass
merges sorted (centroid + buffer) points greedily under the k1 scale
function ``k(q) = (delta / 2pi) * asin(2q - 1)``, which concentrates
centroid resolution at the tails — the property KLL lacks.  Merge of
two digests = concatenate centroids + compress (associative up to the
sketch's accuracy; estimates tested within tolerance under permuted
merge orders, like KLL).

Exact min/max are tracked so q=0/1 are exact; interior quantiles
interpolate between centroid means.
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from .base import Sketch, register


def _k1(q: np.ndarray | float, delta: float) -> np.ndarray | float:
    return (delta / (2 * math.pi)) * np.arcsin(2 * np.clip(q, 0.0, 1.0) - 1)


@register
class TDigest(Sketch):
    kind = "tdigest"

    def __init__(self, delta: float = 100.0, seed: int = 1):
        if not (10 <= delta <= 10000):
            raise ValueError("delta must be in [10, 10000]")
        self.delta = float(delta)
        self.seed = seed  # unused (deterministic); kept for spec uniformity
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self._buf: list[np.ndarray] = []
        self.n = 0
        self.vmin = math.inf
        self.vmax = -math.inf
        self._flip = False  # alternate compress direction (drift control)

    # -- serialization ------------------------------------------------------
    def _params(self) -> dict[str, Any]:
        return {"delta": self.delta, "seed": self.seed}

    def _arrays(self) -> dict[str, np.ndarray]:
        self._compress()
        return {"means": self.means, "weights": self.weights}

    def _extra_state(self) -> dict[str, Any]:
        return {
            "n": int(self.n),
            "vmin": self.vmin if math.isfinite(self.vmin) else None,
            "vmax": self.vmax if math.isfinite(self.vmax) else None,
        }

    def _load_extra_state(self, extra: dict[str, Any]) -> None:
        self.n = int(extra.get("n", 0))
        self.vmin = extra.get("vmin")
        self.vmax = extra.get("vmax")
        self.vmin = math.inf if self.vmin is None else float(self.vmin)
        self.vmax = -math.inf if self.vmax is None else float(self.vmax)

    # -- updates ------------------------------------------------------------
    def update_values(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return
        self._buf.append(v)
        self.n += len(v)
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        if sum(len(b) for b in self._buf) > 10 * self.delta:
            self._compress()

    def update_hashed(self, keys, counts=None):  # pragma: no cover - guard
        raise TypeError(
            "TDigest consumes numeric values, not hashed tokens — use "
            "SketchSpec(mode='numeric') on a numeric column"
        )

    def _compress(self) -> None:
        if not self._buf and len(self.means) <= 2 * self.delta:
            return
        pts_m = [self.means] + self._buf
        pts_w = [self.weights] + [np.ones(len(b)) for b in self._buf]
        m = np.concatenate(pts_m)
        w = np.concatenate(pts_w)
        self._buf = []
        if len(m) == 0:
            return
        order = np.argsort(m, kind="stable")
        m, w = m[order], w[order]
        # alternate the merge direction between compressions — the
        # standard drift control for repeated merge+compress cycles
        # (Dunning & Ertl §3.2); by k1's symmetry the same greedy pass
        # works on the reversed array
        self._flip = not self._flip
        if self._flip:
            m, w = m[::-1].copy(), w[::-1].copy()
        total = w.sum()
        out_m: list[float] = []
        out_w: list[float] = []
        cur_m, cur_w = m[0], w[0]
        q0 = 0.0
        k0 = _k1(q0, self.delta)
        for i in range(1, len(m)):
            q_new = q0 + (cur_w + w[i]) / total
            if _k1(q_new, self.delta) - k0 <= 1.0:
                # merge into current centroid
                cur_m += (m[i] - cur_m) * (w[i] / (cur_w + w[i]))
                cur_w += w[i]
            else:
                out_m.append(cur_m)
                out_w.append(cur_w)
                q0 += cur_w / total
                k0 = _k1(q0, self.delta)
                cur_m, cur_w = m[i], w[i]
        out_m.append(cur_m)
        out_w.append(cur_w)
        self.means = np.array(out_m)
        self.weights = np.array(out_w)
        if self._flip:
            self.means = self.means[::-1].copy()
            self.weights = self.weights[::-1].copy()

    def merge(self, other: "Sketch") -> "TDigest":
        if type(other) is not TDigest or other._params() != self._params():
            raise ValueError("can only merge identically-configured sketches")
        other._compress()
        self.means = np.concatenate([self.means, other.means])
        self.weights = np.concatenate([self.weights, other.weights])
        self._buf.extend(other._buf)
        self.n += other.n
        self.vmin = min(self.vmin, other.vmin)
        self.vmax = max(self.vmax, other.vmax)
        # keep centroids sorted (quantile interpolation assumes it) but
        # defer recompression until the set is genuinely large:
        # compressing on every merge re-averages the same centroids many
        # times over a merge tree and drifts the interior quantiles
        order = np.argsort(self.means, kind="stable")
        self.means = self.means[order]
        self.weights = self.weights[order]
        if len(self.means) > 8 * self.delta:
            self._compress()
        return self

    # -- queries ------------------------------------------------------------
    def quantile(self, q) -> np.ndarray | float:
        scalar = np.isscalar(q)
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        self._compress()
        if self.n == 0 or len(self.means) == 0:
            out = np.full(len(qs), np.nan)
            return float(out[0]) if scalar else out
        m, w = self.means, self.weights
        cum = np.cumsum(w) - w / 2  # centroid midpoints in weight space
        total = w.sum()
        out = np.empty(len(qs))
        for i, qq in enumerate(np.clip(qs, 0.0, 1.0)):
            target = qq * total
            if target <= cum[0]:
                # interpolate between exact min and first centroid
                frac = target / cum[0] if cum[0] > 0 else 0.0
                out[i] = self.vmin + frac * (m[0] - self.vmin)
            elif target >= cum[-1]:
                span = total - cum[-1]
                frac = (target - cum[-1]) / span if span > 0 else 1.0
                out[i] = m[-1] + frac * (self.vmax - m[-1])
            else:
                j = np.searchsorted(cum, target) - 1
                frac = (target - cum[j]) / (cum[j + 1] - cum[j])
                out[i] = m[j] + frac * (m[j + 1] - m[j])
        return float(out[0]) if scalar else out

    def rank(self, value: float) -> float:
        self._compress()
        if self.n == 0:
            return float("nan")
        m, w = self.means, self.weights
        cum = np.cumsum(w) - w / 2
        total = w.sum()
        return float(np.interp(value, m, cum / total, left=0.0, right=1.0))
