"""The partial-state row (group..., spec, state, n_rows, n_values):
``build_partials`` groups each batch once, and every reader folds rows
through ``SketchResult`` / ``_fold_states``.  Keyed output is checked
against a pandas ``groupby(dropna=False)`` reference for each key type
Spark can group by here, NaN and null included."""

import datetime as dt
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import types as T

from sketch_spark.core import make_sketch
from sketch_spark.operators.aggregate import (
    SketchResult,
    SketchSpec,
    _group_slices,
    build_partials,
    merge_partials,
)
from sketch_spark.operators.checkpoint import CheckpointedSketchJob, SimulatedFailure
from sketch_spark.sources.pages import load_pages
from tests.conftest import native_disabled, require_native

# small k: a few dozen values compact, so the KLL bytes depend on the
# order in which a group's rows were fed
KLL = SketchSpec("kll", "kll", "x", mode="numeric", params={"k": 8, "seed": 5})

KEY_TYPES = {
    "s": (T.StringType(), [None, "a", "b", "ü c"]),
    "i32": (T.IntegerType(), [None, 3, -1, 7]),
    # distinct only above 2^53: a float64 detour would merge them
    "big": (T.LongType(), [None, 2**53, 2**53 + 1, 2**62 + 3]),
    "flag": (T.BooleanType(), [None, True, False]),
    "ts": (T.TimestampType(), [None, dt.datetime(2024, 1, 1), dt.datetime(2024, 6, 30, 12, 5)]),
    # Spark's groupBy keeps NaN and null as two groups
    "dbl": (T.DoubleType(), [None, float("nan"), 1.5, -2.0]),
}
N_ROWS = 240


def _rows(seed: int = 3) -> list[dict]:
    rng = np.random.default_rng(seed)
    return [
        {
            "x": float(rng.normal()),
            **{c: vals[int(rng.integers(len(vals)))] for c, (_, vals) in KEY_TYPES.items()},
        }
        for _ in range(N_ROWS)
    ]


def _tag(v):
    """Comparable stand-in for a key value: NaN and null stay apart."""
    if v is None:
        return "<null>"
    if isinstance(v, float) and math.isnan(v):
        return "<nan>"
    return v


def _kll(xs) -> bytes:
    sk = KLL.make()
    KLL.feed(sk, pa.array(xs, pa.float64()))
    return sk.to_bytes()


@pytest.mark.parametrize(
    "keys", [["s"], ["i32"], ["big"], ["flag"], ["ts"], ["dbl"], ["s", "i32"]], ids="+".join
)
def test_keyed_partials_match_pandas_groupby(spark, keys):
    rows = _rows()
    schema = T.StructType(
        [T.StructField("x", T.DoubleType())]
        + [T.StructField(c, t) for c, (t, _) in KEY_TYPES.items()]
    )
    # one partition, input order kept: one partial row per key
    df = spark.createDataFrame(rows, schema).coalesce(1)
    partials = build_partials(df, [KLL], group_cols=keys, spread_small_inputs=False)
    # the key columns come back with the input types (a re-inferred
    # Arrow type would already have crashed the declared schema)
    assert partials.select(*keys).schema == df.select(*keys).schema

    pdf = pd.DataFrame(rows, dtype=object)
    for c in keys:
        pdf[c] = pdf[c].map(_tag)
    want = {
        (k if isinstance(k, tuple) else (k,)): (len(g), _kll(g["x"].tolist()))
        for k, g in pdf.groupby(keys, dropna=False, sort=False)
    }
    got = {
        tuple(_tag(r[c]) for c in keys): (r["n_rows"], bytes(r["state"]))
        for r in partials.collect()
    }
    assert got == want

    # the fold merges NaN keys (a fresh NaN never equals itself) and
    # keeps null apart, summing counts over the doubled input
    merged = merge_partials(partials.unionByName(partials), keys, two_level=False).collect()
    assert len(merged) == len(want)
    assert {tuple(_tag(r[c]) for c in keys): r["n_rows"] for r in merged} == {
        k: 2 * n for k, (n, _) in want.items()
    }


def test_build_partials_null_group_key(spark):
    from sketch_spark.operators.aggregate import SketchSpec, sketch_aggregate

    rows = [("en", "a b c"), (None, "x y z"), ("en", "a a")]
    df = spark.createDataFrame(rows, "lang string, text string")
    spec = SketchSpec("cm", "cm", "text", params={"depth": 4, "log2_width": 10, "seed": 1})
    res = sketch_aggregate(df, [spec], group_cols=["lang"])
    keys = {k[0] for k in res.keys()}
    # SQL groupBy semantics: the null group is a real group, not dropped
    assert None in keys and "en" in keys
    assert res.metrics[(None, "cm")]["n_values"] == 3
    assert res.metrics[("en", "cm")]["n_values"] == 5


def test_build_partials_nullable_bigint_group_key(spark):
    """A nullable int64 group column must keep exact values above 2^53
    (no float64 coercion) and keep the null group."""
    from sketch_spark.operators.aggregate import SketchSpec, sketch_aggregate

    big = 2**53 + 1
    rows = [(big, "a b"), (None, "c"), (big + 2, "d d d")]
    df = spark.createDataFrame(rows, "uid long, text string")
    spec = SketchSpec("cm", "cm", "text", params={"depth": 4, "log2_width": 10, "seed": 1})
    res = sketch_aggregate(df, [spec], group_cols=["uid"])
    keys = {k[0] for k in res.keys()}
    assert keys == {big, big + 2, None}
    assert res.metrics[(big, "cm")]["n_values"] == 2
    assert res.metrics[(None, "cm")]["n_values"] == 1


def _hll_row(group, values, **extra) -> dict:
    sk = make_sketch("hll", p=10, seed=1)
    sk.update_tokens(values)
    return {"g": group, "spec": "hll", "state": sk.to_bytes(), "n_rows": len(values),
            "n_values": len(values), **extra}


def test_sketch_result_merges_rows_sharing_a_key():
    nan_a, nan_b = float("nan"), float("nan")
    rows = [
        _hll_row("a", ["x", "y"], wall_ms=1.0),  # extra fields are ignored
        _hll_row("a", ["y", "z", "w"], wall_ms=2.0),
        _hll_row(nan_a, ["p"]),
        _hll_row(nan_b, ["q"]),
        _hll_row(None, ["r"]),
    ]
    res = SketchResult(rows, ["g"])
    assert len(res) == 3
    whole = make_sketch("hll", p=10, seed=1)
    whole.update_tokens(["x", "y", "z", "w"])
    assert res.sketch("hll", "a").to_bytes() == whole.to_bytes()
    assert res.metrics[("a", "hll")] == {"n_rows": 5, "n_values": 5}
    assert res.metrics[(None, "hll")] == {"n_rows": 1, "n_values": 1}
    assert round(res.sketch("hll", float("nan")).estimate()) == 2


def test_resume_from_bucket_file_with_timing_column(spark, pages_dir, tmp_path):
    specs = [SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 12, "seed": 7})]
    df = load_pages(spark, pages_dir)
    whole = CheckpointedSketchJob(df, specs, str(tmp_path / "a"), n_buckets=4, wave_size=2)
    whole.run()

    job = CheckpointedSketchJob(df, specs, str(tmp_path / "b"), n_buckets=4, wave_size=2)
    with pytest.raises(SimulatedFailure):
        job.run(fail_after_waves=1)
    # rewrite the finished buckets in the older layout, which carried a
    # per-row wall_ms and a per-wave wave_wall_ms column
    for b in job.completed_buckets():
        path = job._bucket_path(b)
        tbl = pq.read_table(path)
        tbl = tbl.append_column("wall_ms", pa.array([1.5] * tbl.num_rows, pa.float64()))
        tbl = tbl.append_column("wave_wall_ms", pa.array([9.0] * tbl.num_rows, pa.float64()))
        pq.write_table(tbl, path)
    job.run()
    assert sum("wall_ms" in pq.read_schema(os.path.join(job.ckpt_dir, f)).names
               for f in os.listdir(job.ckpt_dir)) == 2
    res = job.result(validate_lineage=True)
    assert res.sketch("hll").to_bytes() == whole.result().sketch("hll").to_bytes()
    assert res.metrics[("hll",)]["n_rows"] == df.count()


def test_unsupported_group_column_type_raises_at_plan_time(spark):
    """A group key type a partial row cannot carry fails when the plan
    is built, before any task runs."""
    df = spark.createDataFrame([(1.5, [1])], "x double, arr array<int>")
    df = df.selectExpr("x", "arr", "CAST(x AS DECIMAL(10, 2)) AS dec")
    for col in ("arr", "dec"):
        with pytest.raises(TypeError, match="unsupported group column type"):
            build_partials(df, [KLL], group_cols=[col])


# every feed mode: value (string, integer with nulls, float), numeric,
# tokens n = 1..4 with and without lowercase, tokens_str and vector
_TOK = {"cmcu": {"depth": 3, "log2_width": 8, "seed": 3}, "hll": {"p": 8, "seed": 3},
        "bloom": {"log2_bits": 10, "k": 3, "seed": 3}}
SEGMENT_SPECS = (
    [
        SketchSpec("hll_url", "hll", "url", mode="value", params={"p": 10, "seed": 2}),
        SketchSpec("bloom_url", "bloom", "url", mode="value", params={"log2_bits": 10, "k": 3}),
        SketchSpec("hll_n", "hll", "n", mode="value", params={"p": 10, "seed": 2}),
        SketchSpec("cm_x", "cm", "x", mode="value", params={"depth": 2, "log2_width": 6}),
        SketchSpec("kll_x", "kll", "x", mode="numeric", params={"k": 8, "seed": 5}),
        SketchSpec("kll_n", "kll", "n", mode="numeric", params={"k": 8, "seed": 5}),
        SketchSpec("mg", "mg", "text", mode="tokens_str", params={"k": 4}),
        SketchSpec("mg_lower", "mg", "text", mode="tokens_str", lowercase=True, params={"k": 4}),
        SketchSpec("fd", "fd", "vec", mode="vector", params={"d": 3, "ell": 2}),
    ]
    + [
        SketchSpec(f"{kind}{n}{'l' if low else ''}", kind, "text", ngram=n, lowercase=low,
                   params=params)
        for kind, params in _TOK.items()
        for n in (1, 2, 3, 4)
        for low in (False, True)
    ]
)


def _segment_table(n_rows: int, seed: int) -> pa.Table:
    """A batch whose keys hold null and NaN and whose groups run from
    one row up; every value column holds nulls."""
    rng = np.random.default_rng(seed)
    words = ["a", "B", "b", "cc", "Cc", "ü"]

    def pick(vals, null_p=0.1):
        return [None if rng.random() < null_p else vals[int(rng.integers(len(vals)))]
                for _ in range(n_rows)]

    text = [None if rng.random() < 0.1 else " ".join(rng.choice(words, int(rng.integers(0, 7))))
            for _ in range(n_rows)]
    vec = [None if rng.random() < 0.2 else rng.normal(size=3).tolist() for _ in range(n_rows)]
    return pa.table({
        "g": pa.array(pick([0.5, float("nan"), 2.0, -1.0] + [float(i) for i in range(10, 10 + n_rows)]),
                      pa.float64()),
        "s": pa.array(pick(["x", "y"], 0.3), pa.string()),
        "url": pa.array(pick([f"u{i}" for i in range(12)])),
        "n": pa.array(pick([1, 2, 3, 2**53 + 1]), pa.int64()),
        "x": pa.array(pick([0.5, float("nan"), 1.5, -3.0]), pa.float64()),
        "text": pa.array(text, pa.string()),
        "vec": pa.array(vec, pa.list_(pa.float64())),
    })


def _segmented_and_per_group(tbl: pa.Table, group_cols: list[str]):
    if group_cols:
        keys, taken, offsets = _group_slices(tbl, group_cols)
    else:
        keys, taken, offsets = [()], tbl, np.array([0, tbl.num_rows])
    seg, one = {}, {}
    cache: dict = {}
    for spec in SEGMENT_SPECS:
        sks = [spec.make() for _ in keys]
        nvs = spec.feed_segments(sks, taken.column(spec.column), offsets, cache)
        seg[spec.name] = [(sk.to_bytes(), nv) for sk, nv in zip(sks, nvs)]
        one[spec.name] = []
        for lo, hi in zip(offsets[:-1], offsets[1:]):
            sk = spec.make()
            nv = spec.feed(sk, taken.column(spec.column).slice(lo, hi - lo))
            one[spec.name].append((sk.to_bytes(), nv))
    return keys, seg, one


@pytest.mark.parametrize("native", [True, False], ids=["native", "fallback"])
@pytest.mark.parametrize("n_rows", [0, 1, 7, 90])
@pytest.mark.parametrize("group_cols", [[], ["g"], ["g", "s"]], ids=["global", "g", "g+s"])
def test_segmented_feed_equals_feeding_each_group(native, n_rows, group_cols):
    """``feed_segments`` over a batch leaves the same bytes and counts
    as feeding each group's slice on its own, for every mode."""
    tbl = _segment_table(n_rows, seed=n_rows + len(group_cols))
    if native:
        require_native()
        keys, seg, one = _segmented_and_per_group(tbl, group_cols)
    else:
        with native_disabled():
            keys, seg, one = _segmented_and_per_group(tbl, group_cols)
    assert seg == one
    assert len(keys) == len(set(map(str, keys)))
    if group_cols == ["g"] and n_rows == 90:
        # one-row groups, the null group and the one NaN group are there
        sizes = [nv for _, nv in seg["kll_x"]]  # numeric mode counts every row
        assert 1 in sizes and (None,) in keys and sum(k[0] != k[0] for k in keys) == 1


def test_value_keys_do_not_depend_on_nulls_in_the_batch():
    """An integer value hashes to the same key whether or not its batch
    holds a null, so per-key HLL states merge across partitions."""
    spec = SketchSpec("hll", "hll", "n", mode="value", params={"p": 10})
    a, b = spec.make(), spec.make()
    spec.feed(a, pa.array([2**53 + 1, 5], pa.int64()))
    spec.feed(b, pa.array([2**53 + 1, None, 5], pa.int64()))
    c = spec.make()
    spec.feed(c, pa.array([None], pa.int64()))
    assert a.merge(c).to_bytes() == b.to_bytes()
