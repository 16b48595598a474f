"""Layer-3 Spark integration tests (SURVEY.md §5.2 L3): partial build,
salted tree merge, repartition invariance, per-group sketches, plan
hygiene (column pruning / partition pruning)."""

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from sketch_spark.core import sketch_from_bytes
from sketch_spark.operators.aggregate import (
    SketchResult,
    SketchSpec,
    build_partials,
    merge_partials,
    sketch_aggregate,
)
from sketch_spark.plans import assert_read_schema_only
from sketch_spark.sources.pages import load_pages

from tests.conftest import exact_token_counts


CMCU_SPEC = SketchSpec(
    "cmcu", "cmcu", "text", mode="tokens", params={"depth": 4, "log2_width": 14, "seed": 1}
)
HLL_SPEC = SketchSpec("hll_tok", "hll", "text", mode="tokens", params={"p": 14, "seed": 1})
HLL_URL = SketchSpec("hll_url", "hll", "url", mode="value", params={"p": 14, "seed": 1})


def test_sketch_aggregate_estimates_vs_exact(spark, pages_dir, pages_pdf):
    pages, _ = pages_pdf
    df = load_pages(spark, pages_dir)
    res = sketch_aggregate(df, [CMCU_SPEC, HLL_SPEC, HLL_URL])
    assert len(res) == 3

    exact = exact_token_counts(pages["text"])
    cmcu = res.sketch("cmcu")
    toks = exact.index.to_numpy()
    est = cmcu.estimate_tokens(toks.tolist())
    truth = exact.to_numpy()
    assert (est >= truth).all(), "merged CMCU must never underestimate"
    # (eps, delta) bound
    viol = (est.astype(float) > truth + cmcu.epsilon * cmcu.total).mean()
    assert viol <= cmcu.delta
    assert cmcu.total == int(truth.sum())

    hll = res.sketch("hll_tok")
    n_distinct = len(exact)
    assert abs(hll.estimate() - n_distinct) / n_distinct < 3 * hll.relative_error + 0.01

    hll_u = res.sketch("hll_url")
    n_urls = pages["url"].nunique()
    assert abs(hll_u.estimate() - n_urls) / n_urls < 3 * hll_u.relative_error + 0.01

    m = res.metrics[("cmcu",)]
    assert m["n_rows"] == len(pages)
    assert m["n_values"] > 0


def test_repartition_invariance(spark, pages_dir):
    """Same input at 1/4/16 partitions -> byte-identical merged CM state
    (the distributed restatement of merge-order invariance)."""
    df = load_pages(spark, pages_dir)
    spec = SketchSpec(
        "cm", "cm", "text", mode="tokens", params={"depth": 4, "log2_width": 12, "seed": 3}
    )
    blobs = []
    for nparts in (1, 4, 16):
        res = sketch_aggregate(df.repartition(nparts), [spec])
        blobs.append(res.sketch("cm").to_bytes())
    assert blobs[0] == blobs[1] == blobs[2]


def test_grouped_sketches_per_lang(spark, pages_dir, pages_pdf):
    pages, _ = pages_pdf
    df = load_pages(spark, pages_dir)
    res = sketch_aggregate(df, [HLL_SPEC], group_cols=["lang"])
    langs = sorted(pages["lang"].unique())
    assert sorted(k[0] for k in res.keys()) == langs
    for lang in langs:
        sub = pages[pages["lang"] == lang]
        exact = len(exact_token_counts(sub["text"]))
        hll = res.sketch("hll_tok", lang)
        assert abs(hll.estimate() - exact) / exact < 3 * hll.relative_error + 0.02
        assert res.metrics[(lang, "hll_tok")]["n_rows"] == len(sub)


def test_column_pruning_never_reads_html(spark, pages_dir):
    """The single biggest 10^12-scale win (SURVEY.md §4.2): the sketch
    path must scan only the columns it needs — html:binary stays cold."""
    df = load_pages(spark, pages_dir)
    partials = build_partials(df, [CMCU_SPEC])
    assert_read_schema_only(partials, allowed={"text"}, forbidden={"html", "url", "warc_ts"})


def test_partition_pruning_on_window(spark, pages_dir):
    """window=test predicate prunes control files at the scan."""
    from sketch_spark.plans import explain_str

    df = load_pages(spark, pages_dir).filter(F.col("window") == "test")
    plan = explain_str(df.select("text"))
    assert "PartitionFilters" in plan and "window" in plan


def test_partials_shape_and_merge_metrics(spark, pages_dir, monkeypatch):
    """Past ``_FOLD_FANIN`` partials the merge runs a level-1 fold
    first; its merged bytes equal the driver-side ``SketchResult`` fold
    of the same partials for every kind with an exact merge."""
    from sketch_spark.operators import aggregate

    specs = [
        CMCU_SPEC,
        HLL_SPEC,
        SketchSpec("cm", "cm", "text", mode="tokens", params={"depth": 4, "log2_width": 12, "seed": 3}),
        SketchSpec("bloom", "bloom", "text", mode="tokens", params={"log2_bits": 16, "k": 4, "seed": 2}),
    ]
    df = load_pages(spark, pages_dir).repartition(6)
    partials = build_partials(df, specs)
    pdf = partials.toPandas()
    # one row per (partition, spec); empty partitions may emit none
    assert set(pdf["spec"]) == {s.name for s in specs}
    assert (pdf.groupby("spec").size() <= 6).all()

    monkeypatch.setattr(aggregate, "_FOLD_FANIN", 2)
    merged_df = merge_partials(partials)
    plan = merged_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 3, plan  # partials, level-1 fold, final fold
    merged = merged_df.toPandas().set_index("spec")
    assert len(merged) == len(specs)
    assert merged.loc["cmcu", "n_rows"] == df.count()

    driver = SketchResult(pdf.to_dict("records"), [])
    for spec in specs:
        assert bytes(merged.loc[spec.name, "state"]) == driver.sketch(spec.name).to_bytes(), spec.name


def test_wide_states_coalesce_partials(spark):
    """Specs whose in-memory states pass 8 MiB coalesce the partial pass
    to max(defaultParallelism, 2) tasks: 33 HLLs at p=18 hold 256 KiB
    of dense registers each, though an empty one serialises to ~130
    bytes."""
    target = max(spark.sparkContext.defaultParallelism, 2)
    df = spark.range(1000).selectExpr("CAST(id AS STRING) AS v").repartition(2 * target)
    wide = [SketchSpec(f"h{i}", "hll", "v", mode="value", params={"p": 18, "seed": i}) for i in range(33)]
    assert build_partials(df, wide).rdd.getNumPartitions() == target
    assert build_partials(df, wide[:32]).rdd.getNumPartitions() == 2 * target


def test_kll_numeric_spec(spark, sf01):
    li = spark.read.parquet(f"{sf01}/lineitem.parquet")
    spec = SketchSpec(
        "kll_price", "kll", "l_extendedprice", mode="numeric", params={"k": 200, "seed": 1}
    )
    res = sketch_aggregate(li, [spec])
    kll = res.sketch("kll_price")
    exact = li.selectExpr("percentile(l_extendedprice, array(0.1, 0.5, 0.9)) p").collect()[0]["p"]
    vals = np.asarray(li.select("l_extendedprice").toPandas()["l_extendedprice"])
    n = len(vals)
    assert kll.n == n
    svals = np.sort(vals)
    for q, ex in zip((0.1, 0.5, 0.9), exact):
        est = kll.quantile(q)
        lo = np.searchsorted(svals, est, "left") / n
        hi = np.searchsorted(svals, est, "right") / n
        err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
        assert err < 0.03, f"q={q}: est {est} vs exact {ex}, rank err {err}"


def test_quantile_membership_queries_executor_side(spark, sf001):
    """q_kll_price_quantiles / q_tdigest_value_quantiles /
    q_bloom_membership build results executor-side (state_quantiles_col
    / state_contains_col posexplode) — no collect()/createDataFrame in
    the query bodies — and match the driver-side sketch answers."""
    import inspect

    import __spark_entry__ as entrymod

    for fn in (
        entrymod.q_kll_price_quantiles,
        entrymod.q_tdigest_value_quantiles,
        entrymod.q_bloom_membership,
    ):
        src = inspect.getsource(fn)
        assert ".collect()" not in src and ".createDataFrame(" not in src, fn.__name__

    from sketch_spark.operators.aggregate import SketchSpec, sketch_aggregate

    got = entrymod.q_kll_price_quantiles(spark, sf001).toPandas().sort_values("q")
    li = entrymod._read(spark, sf001, "lineitem")
    spec = SketchSpec("kll", "kll", "l_extendedprice", mode="numeric", params={"k": 200, "seed": 1})
    kll = sketch_aggregate(li, [spec]).sketch("kll")
    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    expect = [round(float(v), 4) for v in kll.quantile(np.array(qs))]
    assert got.q.tolist() == qs
    assert got.est.tolist() == expect

    mem = entrymod.q_bloom_membership(spark, sf001).toPandas()
    assert set(mem.columns) == {"token", "maybe_present"}
    assert len(mem) == 6
    # Bloom has no false negatives: "the" is in the corpus
    assert bool(mem.set_index("token").loc["the", "maybe_present"])


def test_keyed_salted_aggregation_matches_grouped(spark, pages_dir, pages_pdf):
    """High-cardinality keyed path (salted shuffle) produces byte-identical
    states to the map-side grouped path, and estimates match exact counts —
    under deliberate Zipf host skew (FIXTURES.md: host ~ Zipf(1.2))."""
    from sketch_spark.operators.aggregate import keyed_sketch_aggregate

    pages, _ = pages_pdf
    df = load_pages(spark, pages_dir).withColumn(
        "host", F.regexp_extract("url", r"https://([^/]+)/", 1)
    )
    spec = SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 12, "seed": 9})

    keyed = keyed_sketch_aggregate(df, ["host"], [spec], salt=4).collect()
    grouped = merge_partials(
        build_partials(df, [spec], group_cols=["host"]), ["host"]
    ).collect()

    k = {r["host"]: r["state"] for r in keyed}
    g = {r["host"]: r["state"] for r in grouped}
    assert set(k) == set(g) and len(k) > 50  # many hosts, incl. hot ones
    for host in k:
        assert bytes(k[host]) == bytes(g[host]), f"state mismatch for {host}"

    # skew check: the hottest host dominates but its state is still one
    # fixed-size sketch, and its estimate matches exact distinct tokens
    pages = pages.assign(host=pages.url.str.extract(r"https://([^/]+)/")[0])
    hot = pages.host.value_counts().index[0]
    assert pages.host.value_counts().iloc[0] > 0.1 * len(pages)
    exact = pages[pages.host == hot]["text"].str.split().explode().nunique()
    est = sketch_from_bytes(bytes(k[hot])).estimate()
    assert abs(est - exact) / exact < 3 * 1.04 / (2**6) + 0.02


def test_map_side_combine_bound_keeps_sums(spark, monkeypatch):
    """With a one-byte buffer bound every batch re-folds the partition's
    buffer; string and int64 keys still sum (and max) to what the
    unbounded fold and pandas give, int64 keys above 2^53 included."""
    import pyarrow as pa

    from sketch_spark.operators import aggregate

    rng = np.random.default_rng(5)
    n = 3000
    keys = rng.integers(0, 40, n)
    pdf = pd.DataFrame({
        "s": [f"k{k}é" for k in keys],
        "i": (keys + 2**53).astype(np.int64),
        "v": rng.integers(0, 1000, n).astype(np.int64),
    })
    df = spark.createDataFrame(pdf).repartition(3)

    def run(key: str, key_type: str) -> dict:
        def per_batch(batch: pa.RecordBatch) -> pa.Table:
            t = pa.Table.from_batches([batch])
            return pa.table({key: t[key], "total": t["v"], "top": t["v"]})

        aggs = {"total": "sum", "top": "max"}
        out = aggregate._map_side_combine(df.select(key, "v"), per_batch, key, aggs, key_type)
        return {r[key]: (r["total"], r["top"]) for r in out.collect()}

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        for key, key_type in (("s", "string"), ("i", "long")):
            g = pdf.groupby(key)["v"]
            want = {k: (int(t), int(m)) for (k, t), m in zip(g.sum().items(), g.max())}
            unbounded = run(key, key_type)
            monkeypatch.setattr(aggregate, "_COMBINE_BYTES", 1)
            bounded = run(key, key_type)
            monkeypatch.undo()
            assert bounded == unbounded == want, key
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
