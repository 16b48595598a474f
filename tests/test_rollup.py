"""Sketch rollup tables: range queries over materialized per-bucket
states must equal direct computation over the same rows."""

import pytest

from pyspark.sql import functions as F

from sketch_spark.operators.aggregate import SketchSpec, sketch_aggregate
from sketch_spark.operators.rollup import (
    build_sketch_rollup,
    query_sketch_rollup,
    rollup_emerging_heavy_hitters,
)
from sketch_spark.sources.pages import load_pages

SPECS = [
    SketchSpec("cmcu", "cmcu", "text", mode="tokens", params={"depth": 4, "log2_width": 14, "seed": 1}),
    SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 12, "seed": 1}),
]


@pytest.fixture(scope="module")
def rollup_dir(spark, pages_dir, tmp_path_factory):
    df = load_pages(spark, pages_dir)
    out = str(tmp_path_factory.mktemp("rollup") / "daily")
    build_sketch_rollup(df, "warc_ts", SPECS, out, granularity="day")
    return out


def test_range_query_equals_direct(spark, pages_dir, rollup_dir):
    df = load_pages(spark, pages_dir)
    start, end = "2025-08-01", "2025-08-07"
    in_range = df.filter(F.date_format("warc_ts", "yyyy-MM-dd").between(start, end))
    merged = query_sketch_rollup(spark, rollup_dir, "cmcu", start, end)
    # CMCU partials depend on update grouping (conservative update is
    # stream-dependent), so the rollup-merged state is a *valid* CMCU
    # for the range, not byte-equal to a direct build: assert the
    # sandwich instead
    import pandas as pd

    texts = in_range.select("text").toPandas()["text"]
    exact = pd.Series(texts).str.split().explode().value_counts()
    est = merged.estimate_tokens(list(exact.index))
    assert (est >= exact.to_numpy()).all()
    assert merged.total == int(exact.sum())
    viol = (est.astype(float) > exact.to_numpy() + merged.epsilon * merged.total).mean()
    assert viol <= merged.delta

    hll = query_sketch_rollup(spark, rollup_dir, "hll", start, end)
    hll_direct = sketch_aggregate(
        df.filter(F.date_format("warc_ts", "yyyy-MM-dd").between(start, end)),
        [SPECS[1]],
    ).sketch("hll")
    assert (hll.registers == hll_direct.registers).all()


def test_full_range_and_missing_range(spark, rollup_dir, pages_dir):
    df = load_pages(spark, pages_dir)
    whole = query_sketch_rollup(spark, rollup_dir, "hll")
    direct = sketch_aggregate(df, [SPECS[1]]).sketch("hll")
    # HLL merge is an exact homomorphism: byte-equal however bucketed
    assert (whole.registers == direct.registers).all()
    with pytest.raises(KeyError):
        query_sketch_rollup(spark, rollup_dir, "cmcu", "1999-01-01", "1999-01-02")


def test_rollup_emerging_matches_adhoc(spark, pages_dir, rollup_dir, pages_pdf):
    """Emerging HH from rollup states == ad-hoc pipeline on the same
    windows (the sketch comes from the rollup, so this also proves the
    materialized states are the real thing)."""
    from sketch_spark.operators.emerging import emerging_heavy_hitters

    df = load_pages(spark, pages_dir)
    test_range = ("2025-08-01", "2025-08-14")
    ctrl_range = ("2025-07-01", "2025-07-14")
    via_rollup = rollup_emerging_heavy_hitters(
        spark, rollup_dir, df, "warc_ts", "text",
        test_range, ctrl_range, threshold=150, mode="exact",
    ).toPandas()
    fmt = F.date_format("warc_ts", "yyyy-MM-dd")
    adhoc = emerging_heavy_hitters(
        df.filter(fmt.between(*test_range)),
        df.filter(fmt.between(*ctrl_range)),
        "text", threshold=150, mode="exact",
    ).toPandas()
    a = via_rollup.sort_values("token").reset_index(drop=True)
    b = adhoc.sort_values("token").reset_index(drop=True)
    assert a.equals(b)
    assert len(a) > 0
