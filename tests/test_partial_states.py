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
    build_partials,
    merge_partials,
)
from sketch_spark.operators.checkpoint import CheckpointedSketchJob, SimulatedFailure
from sketch_spark.sources.pages import load_pages

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
