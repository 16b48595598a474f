"""Frequent Directions matrix sketch: published-bound guarantees,
any-merge-order mergeability, serialization, the Spark vector-mode
aggregation path, and Weyl singular-value accuracy."""

import numpy as np
import pytest

from sketch_spark.core import make_sketch, sketch_from_bytes
from sketch_spark.core.fd import FrequentDirections


def _lowrank(rng, n, d, r, noise=0.1):
    return rng.normal(size=(n, r)) @ rng.normal(size=(r, d)) + noise * rng.normal(
        size=(n, d)
    )


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_fd_covariance_sandwich(seed):
    """0 <= x^T (A^T A - B^T B) x <= ||A||_F^2 / ell (Liberty 2013)."""
    rng = np.random.default_rng(seed)
    d, ell = 24, 8
    A = _lowrank(rng, 1500, d, 3)
    fd = FrequentDirections(d=d, ell=ell)
    fd.update_values(A)
    diff = A.T @ A - fd.covariance()
    ev = np.linalg.eigvalsh(diff)
    assert ev.min() >= -1e-6, "B^T B must never overestimate"
    assert ev.max() <= fd.bound + 1e-6, "spectral error above published bound"
    assert fd.n == 1500
    assert abs(fd.sq_frob - (A * A).sum()) < 1e-5


@pytest.mark.parametrize("seed", [3, 4])
def test_fd_merge_any_order_within_bound(seed):
    rng = np.random.default_rng(seed)
    d, ell = 16, 6
    A = _lowrank(rng, 2000, d, 2)
    parts = np.array_split(A, 9)
    sks = []
    for p in parts:
        s = FrequentDirections(d=d, ell=ell)
        s.update_values(p)
        sks.append(sketch_from_bytes(s.to_bytes()))
    order = rng.permutation(9)
    m = sks[order[0]]
    for i in order[1:]:
        m = m.merge(sks[i])
    assert m.n == 2000
    diff = A.T @ A - m.covariance()
    ev = np.linalg.eigvalsh(diff)
    assert ev.min() >= -1e-6 and ev.max() <= m.bound + 1e-6


def test_fd_weyl_singular_values():
    """|sigma_i(B)^2 - sigma_i(A)^2| <= bound for every component."""
    rng = np.random.default_rng(7)
    d, ell = 20, 10
    A = _lowrank(rng, 1200, d, 4)
    fd = FrequentDirections(d=d, ell=ell)
    fd.update_values(A)
    sa = np.linalg.svd(A, compute_uv=False)
    sb = fd.singular_values()
    sb = np.pad(sb, (0, max(0, len(sa) - len(sb))))
    assert (np.abs(sb[: len(sa)] ** 2 - sa**2) <= fd.bound + 1e-6).all()


def test_fd_roundtrip_and_validation():
    rng = np.random.default_rng(9)
    fd = FrequentDirections(d=8, ell=4)
    fd.update_values(rng.normal(size=(100, 8)))
    rt = sketch_from_bytes(fd.to_bytes())
    assert np.allclose(rt.covariance(), fd.covariance())
    assert (rt.n, rt.sq_frob) == (fd.n, fd.sq_frob)
    with pytest.raises(ValueError):
        fd.update_values(rng.normal(size=(3, 5)))  # wrong width
    with pytest.raises(ValueError):
        FrequentDirections(d=8, ell=1)
    with pytest.raises(ValueError):
        fd.merge(FrequentDirections(d=8, ell=8))
    with pytest.raises(TypeError):
        fd.merge(make_sketch("hll", p=10))


def test_fd_exact_below_capacity():
    """Fewer than 2*ell rows: no compaction ever fires, covariance exact."""
    rng = np.random.default_rng(11)
    A = rng.normal(size=(7, 12))
    fd = FrequentDirections(d=12, ell=8)
    fd.update_values(A)
    assert np.allclose(fd.covariance(), A.T @ A)


def test_fd_spectrum_spark(spark):
    """The distributed path: per-partition partials + tree merge must
    satisfy the same bound vs the exact matrix, at any partitioning."""
    from sketch_spark.operators.aggregate import fd_spectrum

    rng = np.random.default_rng(13)
    d, n = 12, 400
    A = _lowrank(rng, n, d, 2).astype(np.float32)
    rows = [(i, [float(x) for x in A[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sa = np.linalg.svd(A.astype(np.float64), compute_uv=False)
    for parts in (1, 7):
        out = fd_spectrum(df.repartition(parts), ell=8, k=5).collect()
        assert len(out) == 5
        assert out[0]["n_rows"] == n
        bound = out[0]["err_bound"]
        for r in out:
            assert abs(r["singular_value"] ** 2 - sa[r["component"] - 1] ** 2) <= bound + 1e-6


def test_fd_spectrum_null_and_ragged(spark):
    from sketch_spark.operators.aggregate import fd_spectrum

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    out = fd_spectrum(df, ell=2, k=2).collect()
    assert out and out[0]["n_rows"] == 2  # null vector skipped
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="fixed-length|expected d"):
        fd_spectrum(ragged, ell=2, k=2).collect()


def test_fd_low_dim_exact_and_bounded():
    """d < ell (rank < ell): compaction must not shrink at all — the
    summary stays EXACT and the sandwich holds trivially (review
    finding: delta was taken from the rank-th singular value and
    over-shrank 3.5x past the published bound)."""
    rng = np.random.default_rng(21)
    d, ell = 4, 16
    A = rng.normal(size=(2000, d))
    fd = FrequentDirections(d=d, ell=ell)
    fd.update_values(A)
    assert np.allclose(fd.covariance(), A.T @ A, rtol=1e-8, atol=1e-6)
    # d == 1 degenerate: the buffer must never be annihilated
    one = FrequentDirections(d=1, ell=8)
    one.update_values(np.ones((100, 1)))
    assert np.allclose(one.covariance(), [[100.0]])


def test_fd_rank_equals_ell_boundary():
    """rank == ell exactly: shrinkage fires with delta = s_ell^2 and the
    sandwich still holds."""
    rng = np.random.default_rng(22)
    d, ell = 6, 6
    A = rng.normal(size=(500, d))
    fd = FrequentDirections(d=d, ell=ell)
    fd.update_values(A)
    diff = A.T @ A - fd.covariance()
    ev = np.linalg.eigvalsh(diff)
    assert ev.min() >= -1e-6 and ev.max() <= fd.bound + 1e-6


def test_fd_vector_mode_null_element_raises(spark):
    from sketch_spark.operators.aggregate import fd_spectrum

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, None])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="null element"):
        fd_spectrum(df, ell=2, k=2).collect()


def test_fd_spectrum_grouped(spark):
    """group_cols: one FD state per group in the same fused pass; each
    group's spectrum must match its own exact singular values within
    its own bound."""
    from sketch_spark.operators.aggregate import fd_spectrum

    rng = np.random.default_rng(31)
    d = 8
    mats = {"a": rng.normal(size=(120, d)), "b": 5.0 * rng.normal(size=(80, d))}
    rows = [
        (lab, [float(x) for x in m[i]]) for lab, m in mats.items() for i in range(len(m))
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<float>")
    out = fd_spectrum(
        df.repartition(5), ell=6, k=3, group_cols=["label"]
    ).collect()
    assert {r["label"] for r in out} == {"a", "b"}
    for lab, m in mats.items():
        mine = [r for r in out if r["label"] == lab]
        assert mine[0]["n_rows"] == len(m)
        sa = np.linalg.svd(np.float32(m).astype(np.float64), compute_uv=False)
        bound = mine[0]["err_bound"]
        for r in mine:
            assert abs(r["singular_value"] ** 2 - sa[r["component"] - 1] ** 2) <= bound + 1e-6


def test_fd_residuals_subspace_properties(spark):
    """Vectors inside a planted rank-2 subspace score ~0 residual under
    ANY partitioning; an orthogonal outlier scores ratio ~1; zero
    vectors get ratio 0 (guarded division)."""
    from sketch_spark.operators.aggregate import fd_residuals

    rng = np.random.default_rng(41)
    d = 10
    basis = np.linalg.qr(rng.normal(size=(d, 2)))[0].T  # 2 x d orthonormal
    inside = rng.normal(size=(200, 2)) @ basis
    # orthogonal direction: complete the basis
    full = np.linalg.qr(rng.normal(size=(d, d)))[0]
    ortho = full[:, -1]
    ortho -= basis.T @ (basis @ ortho)
    ortho /= np.linalg.norm(ortho)
    rows = [(i, [float(x) for x in inside[i]]) for i in range(200)]
    rows.append((900, [float(x) for x in 3.0 * ortho]))
    rows.append((901, [0.0] * d))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for parts in (1, 6):
        out = {
            r["vec_id"]: r
            for r in fd_residuals(df.repartition(parts), ell=6, k=2).collect()
        }
        assert len(out) == 202
        for i in range(200):
            assert out[i]["ratio"] < 1e-5, f"in-subspace vector {i} flagged"
        assert out[900]["ratio"] > 0.99, "orthogonal outlier not flagged"
        assert out[901] == out[901]  # present
        assert out[901]["ratio"] == 0.0 and out[901]["residual"] == 0.0


def test_fd_residuals_validation(spark):
    from sketch_spark.operators.aggregate import fd_residuals

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="null vector"):
        fd_residuals(df.filter("vec_id >= 0"), ell=2, k=1).collect()
    ok = fd_residuals(df.filter("embedding is not null"), ell=2, k=1).collect()
    assert len(ok) == 1


def test_fd_residuals_empty_partition(spark):
    """A zero-row Arrow batch (an empty partition) scores to nothing
    instead of failing the reshape, and empty partitions in a real
    job leave the other rows' scores intact."""
    import pyarrow as pa

    from sketch_spark.operators.aggregate import _fd_scores, fd_residuals

    v = np.eye(2)[:1]
    typ = pa.list_(pa.float32())
    empty = pa.RecordBatch.from_pydict(
        {"vec_id": pa.array([], pa.int64()), "embedding": pa.array([], typ)}
    )
    one = pa.RecordBatch.from_pydict(
        {"vec_id": pa.array([7], pa.int64()), "embedding": pa.array([[3.0, 4.0]], typ)}
    )
    out = list(_fd_scores(iter([empty, one, empty]), v))
    assert len(out) == 1 and out[0].num_rows == 1
    assert out[0].column("residual").to_pylist() == [16.0]

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    ).repartition(8)
    rows = fd_residuals(df, ell=2, k=1).collect()
    assert sorted(r["vec_id"] for r in rows) == [1, 2, 3]


def test_vector_mode_fuses_with_other_specs(spark):
    """The reference's 'all configs in one scan' (P1) must hold across
    modes: an FD (vector) spec and an HLL (value) spec build from the
    SAME build_partials pass, and both merged states are correct."""
    from sketch_spark.core import sketch_from_bytes
    from sketch_spark.operators.aggregate import (
        SketchSpec,
        build_partials,
        merge_partials,
    )

    rng = np.random.default_rng(51)
    d = 6
    rows = [(i % 17, [float(x) for x in rng.normal(size=d)]) for i in range(300)]
    df = spark.createDataFrame(rows, "label long, embedding array<float>")
    specs = [
        SketchSpec("fd", "fd", "embedding", mode="vector", params={"d": d, "ell": 8}),
        SketchSpec("hll", "hll", "label", mode="value", params={"p": 12, "seed": 1}),
    ]
    merged = merge_partials(build_partials(df, specs), [])
    states = {r["spec"]: bytes(r["state"]) for r in merged.collect()}
    assert set(states) == {"fd", "hll"}
    fd = sketch_from_bytes(states["fd"])
    assert fd.n == 300
    # quantize through float32 exactly as the array<float> column does
    A = np.array([v for _, v in rows], dtype=np.float32).astype(np.float64)
    ev = np.linalg.eigvalsh(A.T @ A - fd.covariance())
    assert ev.min() >= -1e-6 and ev.max() <= fd.bound + 1e-6
    hll = sketch_from_bytes(states["hll"])
    assert abs(hll.estimate() - 17) <= 3  # well within RSE at p=12
