"""Sketch base class + binary serialization.

Every sketch is a mergeable aggregation state: ``update_hashed`` /
``update_values`` consume vectorized batches, ``merge`` is associative
and commutative (the property Spark's partial/final aggregation shape
needs — the distributed replacement for the reference's shared-memory
atomicAdd merge, /root/reference/src/sketch.cu:145-147), and
``to_bytes``/``from_bytes`` round-trip the state losslessly so it can
travel between executors as a Spark ``BinaryType`` column.

Wire format: ``b"SKS1" + u32 header_len + json header + raw payload``.
The header carries kind + constructor params + array descriptors; the
payload is the concatenated raw array bytes (C order, little endian).
"""

from __future__ import annotations

import json
import struct
from typing import Any, ClassVar

import numpy as np

_MAGIC = b"SKS1"

_REGISTRY: dict[str, type["Sketch"]] = {}


def register(cls: type["Sketch"]) -> type["Sketch"]:
    _REGISTRY[cls.kind] = cls
    return cls


def sketch_from_bytes(blob: bytes) -> "Sketch":
    """Deserialize any registered sketch from its binary state."""
    if blob[:4] != _MAGIC:
        raise ValueError("not a sketch blob (bad magic)")
    (hlen,) = struct.unpack("<I", blob[4:8])
    header = json.loads(blob[8 : 8 + hlen].decode())
    cls = _REGISTRY[header["kind"]]
    return cls._from_state(header, blob[8 + hlen :])


class Sketch:
    """Abstract mergeable sketch."""

    kind: ClassVar[str] = "?"

    # --- subclass contract -------------------------------------------------
    def _params(self) -> dict[str, Any]:
        """JSON-safe constructor params (must rebuild an empty twin)."""
        raise NotImplementedError

    def _arrays(self) -> dict[str, np.ndarray]:
        """Named state arrays serialized in the payload."""
        raise NotImplementedError

    def _extra_state(self) -> dict[str, Any]:
        """JSON-safe scalar state (counters etc.)."""
        return {}

    def _load_extra_state(self, extra: dict[str, Any]) -> None:
        pass

    def merge(self, other: "Sketch") -> "Sketch":
        raise NotImplementedError

    def _update_unique(self, keys: np.ndarray, counts: np.ndarray) -> None:
        """``update_hashed`` for keys already made distinct with summed
        int64 counts (``unique_with_counts`` or ``native.gram_counts``
        output); sketches that aggregate their input skip that here."""
        self.update_hashed(keys, counts)

    @classmethod
    def update_hashed_segments(cls, sketches: list["Sketch"], keys: np.ndarray, offsets) -> None:
        """``sketches[i].update_hashed`` with the keys of
        ``offsets[i]:offsets[i + 1]``, for every i: one call per batch
        for the per-key sketches of one spec.  Kinds that can hash a
        whole batch at once override it."""
        for sk, lo, hi in zip(sketches, offsets[:-1], offsets[1:]):
            sk.update_hashed(keys[lo:hi])

    # --- shared machinery --------------------------------------------------
    def to_bytes(self) -> bytes:
        arrays = self._arrays()
        desc = []
        payload = []
        for name, arr in arrays.items():
            arr = np.ascontiguousarray(arr)
            desc.append({"name": name, "dtype": str(arr.dtype), "shape": list(arr.shape)})
            payload.append(arr.tobytes())
        header = json.dumps(
            {
                "kind": self.kind,
                "params": self._params(),
                "arrays": desc,
                "extra": self._extra_state(),
            }
        ).encode()
        return _MAGIC + struct.pack("<I", len(header)) + header + b"".join(payload)

    @classmethod
    def _from_state(cls, header: dict[str, Any], payload: bytes) -> "Sketch":
        obj = cls(**header["params"])
        off = 0
        for d in header["arrays"]:
            dt = np.dtype(d["dtype"])
            shape = tuple(d["shape"])
            nbytes = dt.itemsize * int(np.prod(shape)) if shape else dt.itemsize
            arr = np.frombuffer(payload[off : off + nbytes], dtype=dt).reshape(shape).copy()
            off += nbytes
            obj._set_array(d["name"], arr)
        obj._load_extra_state(header.get("extra", {}))
        return obj

    def _set_array(self, name: str, arr: np.ndarray) -> None:
        """Default: state arrays are attributes named exactly ``name``."""
        setattr(self, name, arr)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "Sketch":
        obj = sketch_from_bytes(blob)
        if not isinstance(obj, cls):
            raise TypeError(f"blob holds {type(obj).__name__}, expected {cls.__name__}")
        return obj

    def new_empty(self) -> "Sketch":
        return type(self)(**self._params())


def unique_with_counts(
    keys: np.ndarray, counts: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Aggregate duplicate keys in a batch: (unique_keys, summed_counts).

    Integer counts sum exactly in int64; float weights sum in float64
    and then truncate."""
    if counts is None:
        uk, c = np.unique(keys, return_counts=True)
        return uk, c.astype(np.int64)
    uk, inv = np.unique(keys, return_inverse=True)
    if counts.dtype.kind in "iu":
        summed = np.zeros(len(uk), dtype=np.int64)
        np.add.at(summed, inv, counts.astype(np.int64, copy=False))
        return uk, summed
    summed = np.bincount(inv, weights=counts.astype(np.float64), minlength=len(uk))
    return uk, summed.astype(np.int64)
