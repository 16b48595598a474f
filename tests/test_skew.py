"""Heavy-hitter skew defusal: the salted exchange must actually balance
task input sizes (north-star skew clause — VERDICT r3 #7 asked for
measured-imbalance evidence, not just the salting code + oracle).

The large-scale measurement lives in bench_util/skew.py (appends to
BENCH.md); these tests pin the mechanism at pytest scale: the same
partition-histogram instrumentation, a 100x-skewed key, and the
balance factor (max/median post-exchange task rows) dropping from
pathological to near-flat under the salt, with zero rows lost.
"""

import statistics

import pytest
from pyspark.sql import functions as F

from sketch_spark.operators.aggregate import (
    SketchSpec,
    keyed_sketch_aggregate,
    partition_histogram,
    salted_spread,
)


def factor(hist: dict[int, int]) -> float:
    sizes = sorted(hist.values())
    med = statistics.median(sizes)
    return max(sizes) / med if med else float("inf")


@pytest.fixture(scope="module")
def skewed(spark):
    # one mega-host holds half the rows; the rest spread over 100 hosts
    n = 20_000
    return spark.range(n).select(
        F.when(F.col("id") % 2 == 0, "mega.example.com")
        .otherwise(F.concat(F.lit("host-"), (F.col("id") % 100).cast("string")))
        .alias("host"),
        F.col("id").cast("string").alias("rid"),
        F.concat(F.lit("tok"), (F.col("id") % 97).cast("string")).alias("text"),
    )


def test_partition_histogram_counts_every_row(spark, skewed):
    hist = partition_histogram(skewed.repartition(8, "host"), expected_partitions=8)
    assert len(hist) == 8  # zero-row tasks are reported too
    assert sum(hist.values()) == 20_000


def test_salted_spread_balances_heavy_hitter(spark, skewed):
    P = 16
    naive = partition_histogram(skewed.repartition(P, "host"), expected_partitions=P)
    salted = partition_histogram(
        salted_spread(skewed, ["host"], ["text"], salt=16, partitions=P, row_id_col="rid"),
        expected_partitions=P,
    )
    assert sum(naive.values()) == sum(salted.values()) == 20_000
    # naive hash-partitioning puts the whole mega-host in ONE task
    assert max(naive.values()) >= 10_000
    # the salt spreads it: no task should dominate
    assert factor(salted) < factor(naive) / 3
    assert factor(salted) < 4


def test_salt_does_not_change_merged_states(spark, skewed):
    # the salt only changes the partitioning, never the math: for
    # sketches with an exact merge homomorphism (CM's counter sum,
    # HLL's register max) the merged per-host states are BYTE-identical
    # with and without fan-out, and the exact row/value metadata always
    # is.  (CMCU is deliberately absent: conservative update is
    # order/grouping-dependent by construction — any partitioning gives
    # a valid upper bound, but not the same bytes.)
    specs = [
        SketchSpec(
            "cm", "cm", "text", mode="tokens", params={"depth": 2, "log2_width": 10, "seed": 1}
        ),
        SketchSpec("hll", "hll", "text", mode="tokens", params={"p": 10, "seed": 1}),
    ]

    def states(salt: int):
        out = keyed_sketch_aggregate(
            skewed, ["host"], specs, salt=salt, partitions=8, row_id_col="rid"
        )
        return sorted(
            (r["host"], r["spec"], bytes(r["state"]), r["n_rows"], r["n_values"])
            for r in out.collect()
        )

    assert states(16) == states(1)


def test_few_urls_per_host_ship_small_hll_states(spark):
    """Hosts with a handful of URLs carry sparse HLL states: every
    per-host row, partial or merged, stays under 1 KB at p=14 (dense
    is 16.5 KB), and still decodes to the exact distinct count."""
    from sketch_spark.core import sketch_from_bytes
    from sketch_spark.operators.aggregate import build_partials

    n = 3_000
    pages = spark.range(n).select(
        F.concat(F.lit("host-"), (F.col("id") % 500).cast("string")).alias("host"),
        F.concat(F.lit("https://h/"), (F.col("id") % 1_500).cast("string")).alias("url"),
        (F.col("id") % 977).cast("double").alias("crawl_ms"),
    )
    specs = [
        SketchSpec("hll", "hll", "url", mode="value", params={"p": 14, "seed": 1}),
        SketchSpec("kll", "kll", "crawl_ms", mode="numeric", params={"k": 200, "seed": 1}),
    ]
    spread = salted_spread(pages, ["host"], ["crawl_ms", "url"], salt=4, partitions=4)
    partials = build_partials(spread, specs, group_cols=["host"], spread_small_inputs=False)
    merged = keyed_sketch_aggregate(pages, ["host"], specs, salt=4, partitions=4)
    for rows in (partials.collect(), merged.collect()):
        hll = [r for r in rows if r["spec"] == "hll"]
        assert hll and max(len(r["state"]) for r in hll) < 1_000
    # host h holds urls h, h + 500, h + 1000: three distinct each
    ests = [sketch_from_bytes(bytes(r["state"])).estimate() for r in merged.collect()
            if r["spec"] == "hll"]
    assert len(ests) == 500 and all(round(e) == 3 for e in ests)
