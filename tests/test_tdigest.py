"""t-digest unit tests: accuracy (tail-concentrated), merge tolerance,
serialization, and exact extremes."""

import numpy as np
import pytest

from sketch_spark.core import TDigest, sketch_from_bytes


def _rank_err(td, values, q):
    est = td.quantile(q)
    lo = np.searchsorted(values, est, "left") / len(values)
    hi = np.searchsorted(values, est, "right") / len(values)
    return 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))


@pytest.mark.parametrize("dist", ["uniform", "lognormal"])
def test_tdigest_accuracy(dist):
    rng = np.random.default_rng(3)
    n = 200_000
    v = rng.uniform(0, 1, n) if dist == "uniform" else rng.lognormal(0, 2, n)
    td = TDigest(delta=100)
    td.update_values(v)
    sv = np.sort(v)
    assert td.quantile(0.0) == sv[0]
    assert td.quantile(1.0) == sv[-1]
    for q in [0.001, 0.01, 0.5, 0.99, 0.999]:
        err = _rank_err(td, sv, q)
        # t-digest rank error scales ~ q(1-q); generous envelope
        assert err < max(0.002, 4 * q * (1 - q) / 100), f"q={q} err={err}"


def test_tdigest_merge_matches_single_pass_within_tolerance():
    rng = np.random.default_rng(5)
    v = rng.normal(0, 1, 120_000)
    parts = []
    for chunk in np.array_split(v, 12):
        t = TDigest(delta=100)
        t.update_values(chunk)
        parts.append(t)
    order = rng.permutation(12)
    acc = TDigest.from_bytes(parts[order[0]].to_bytes())
    for i in order[1:]:
        acc.merge(parts[i])
    assert acc.n == len(v)
    sv = np.sort(v)
    for q in [0.01, 0.25, 0.5, 0.75, 0.99]:
        assert _rank_err(acc, sv, q) < 0.02


def test_tdigest_centroid_budget():
    rng = np.random.default_rng(7)
    td = TDigest(delta=100)
    td.update_values(rng.uniform(0, 1, 500_000))
    td._compress()
    assert len(td.means) <= 2 * td.delta  # bounded state


def test_tdigest_roundtrip():
    td = TDigest(delta=50)
    td.update_values(np.arange(5000, dtype=float))
    back = sketch_from_bytes(td.to_bytes())
    assert back.n == td.n
    for q in [0.0, 0.3, 0.9, 1.0]:
        assert abs(back.quantile(q) - td.quantile(q)) < 1e-9


def test_tdigest_empty_and_merge_refusal():
    td = TDigest()
    assert np.isnan(td.quantile(0.5))
    with pytest.raises(ValueError):
        td.merge(TDigest(delta=200))


def test_tdigest_small_merge_stays_sorted():
    a, b = TDigest(delta=100), TDigest(delta=100)
    a.update_values(np.array([5.0, 1.0, 9.0]))
    b.update_values(np.array([0.5, 7.0]))
    a.merge(b)
    assert (np.diff(a.means) >= 0).all() or len(a.means) <= 1
    assert a.quantile(0.0) == 0.5 and a.quantile(1.0) == 9.0


def test_tdigest_spark_spec(spark, sf01):
    import os
    from sketch_spark.operators.aggregate import SketchSpec, sketch_aggregate

    li = spark.read.parquet(os.path.join(sf01, "lineitem.parquet"))
    spec = SketchSpec("td", "tdigest", "l_extendedprice", mode="numeric", params={"delta": 200})
    td = sketch_aggregate(li, [spec]).sketch("td")
    vals = np.sort(li.select("l_extendedprice").toPandas()["l_extendedprice"].to_numpy())
    assert td.n == len(vals)
    assert td.quantile(0.0) == vals[0] and td.quantile(1.0) == vals[-1]
    for q in [0.01, 0.5, 0.99]:
        assert _rank_err(td, vals, q) < 0.02
