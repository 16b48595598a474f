"""The traced run: spans, Spark event-log reduction and per-layer probes.

Spans are recorded around calls into each layer's public functions from this
file only; no package code changes.  They stay in memory and are written once
the run ends.  Spark work inside a span is tagged with the span's name through
the ``perfbench.span`` local property, so the event log's stages can be
attributed to spans.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """In-memory spans: id, name, parent, op, workload, start, end, counts."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.spark = None  # set once a traced session exists

    def _tag(self, name: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, name)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op or (parent["op"] if parent else None),
            "workload": self.workload,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1]["name"] if self._stack else None)

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_seconds(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"])
        covered, edge = 0.0, rec["start"]
        for a, b in kids:
            a = max(a, edge)
            if b > a:
                covered += b - a
                edge = b
        return rec["end"] - rec["start"] - covered

    def write(self, path: str) -> None:
        out = [dict(s, self_s=self.self_seconds(s)) for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


# ---------------------------------------------------------------- event log


def reduce_event_log(log_dir: str) -> dict[str, dict]:
    """Per span name: stages, tasks and summed task metrics from the event log."""
    stage_span: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    # Spark 4 writes a directory of rolled files per application
    for path in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_span[ev["Stage Info"]["Stage ID"]] = props.get(SPAN_PROPERTY)
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.setdefault(ev["Stage ID"], []).append(ev)
    out: dict[str, dict] = {}
    for stage, evs in tasks.items():
        name = stage_span.get(stage)
        if name is None:
            continue
        agg = out.setdefault(
            name,
            {"stages": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
             "jvm_gc_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
             "spill_mb": 0.0, "task_skew": 1.0},
        )
        agg["stages"] += 1
        agg["tasks"] += len(evs)
        durations = []
        for ev in evs:
            m = ev["Task Metrics"]
            info = ev["Task Info"]
            durations.append(info["Finish Time"] - info["Launch Time"])
            agg["executor_run_s"] += m["Executor Run Time"] / 1e3
            agg["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            agg["jvm_gc_s"] += m["JVM GC Time"] / 1e3
            agg["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 1e6
            sr = m["Shuffle Read Metrics"]
            agg["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / 1e6
            agg["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
        if len(durations) > 1:
            med = statistics.median(durations)
            agg["task_skew"] = max(agg["task_skew"], max(durations) / max(med, 1))
    return out


# ---------------------------------------------------------- one-core probes


def _timed(fn) -> float:
    """Median seconds of ``fn()`` over three calls."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def sample_batches(data_dir: str, rows: int, batch_rows: int) -> list[pa.RecordBatch]:
    """The first ``rows`` rows of the control window, as the scan would batch them."""
    files = sorted(glob.glob(os.path.join(data_dir, "pages", "window=control", "*.parquet")))
    tables, n = [], 0
    for path in files:
        t = pq.read_table(path, columns=["text", "url", "crawl_ms", "host"])
        tables.append(t)
        n += t.num_rows
        if n >= rows:
            break
    return pa.concat_tables(tables).slice(0, rows).combine_chunks().to_batches(batch_rows)


def core_probes(tracer: Tracer, batches: list[pa.RecordBatch], sketch: dict, keyed: dict) -> dict:
    """Token layer, hashing and sketch states on one core, on a fixed sample.

    ``sketch`` and ``keyed`` map spec names to the specs of the fused pass and
    of the keyed path.  Updates use the fused pass's geometries (KLL: the keyed
    one); serialise, merge and state bytes use per-host states of the sample,
    built as the keyed path builds them, plus the fused pass's CMCU and Bloom.
    """
    from sketch_spark.core import sketch_from_bytes
    from sketch_spark.core.base import unique_with_counts
    from sketch_spark.core.hashing import hash_strings
    from sketch_spark.functions.text import hashes_from_base, token_base

    m: dict[str, float] = {}
    threads = pa.cpu_count()
    pa.set_cpu_count(1)
    try:
        texts = [b.column(0) for b in batches]
        with tracer.span("text.token_base") as span:
            m["text.tokenize_s"] = _timed(lambda: [token_base(t, seed=1) for t in texts])
            bases = [token_base(t, seed=1) for t in texts]
            m["text.tokens"] = span["counts"]["tokens"] = float(sum(len(b[1]) for b in bases))
        m["text.tokenize_mtok_per_s"] = m["text.tokens"] / m["text.tokenize_s"] / 1e6

        def ngrams():
            return [unique_with_counts(hashes_from_base(b, n)) for b in bases for n in (2, 3, 4)]

        with tracer.span("hashing.ngram"):
            m["hashing.ngram_s"] = _timed(ngrams)
        urls = [b.column(1) for b in batches]
        with tracer.span("hashing.value"):
            m["hashing.value_s"] = _timed(lambda: [hash_strings(u, seed=1) for u in urls])

        unigram = [(b[0], np.bincount(b[1], minlength=len(b[0]))) for b in bases]
        keys = {1: unigram}
        grams = ngrams()
        for i, n in enumerate((2, 3, 4)):
            keys[n] = grams[i::3]
        crawl = [np.asarray(b.column(2).to_numpy(), dtype=np.float64) for b in batches]
        feeds = {
            "cmcu": lambda: [
                sketch[f"cmcu{n}"].make().update_hashed(k, c) for n in (1, 2, 3, 4) for k, c in keys[n]
            ],
            "hll": lambda: [sketch["hll"].make().update_hashed(k, c) for k, c in unigram],
            "bloom": lambda: [sketch["bloom"].make().update_hashed(k, c) for k, c in unigram],
            "kll": lambda: [keyed["kll"].make().update_values(v) for v in crawl],
        }
        for kind, feed in feeds.items():
            with tracer.span(f"core.update.{kind}"):
                m[f"core.update_s.{kind}"] = _timed(feed)

        cmcu = sketch["cmcu1"].make()
        bloom = sketch["bloom"].make()
        for k, c in unigram:
            cmcu.update_hashed(k, c)
            bloom.update_hashed(k, c)
        uniq = [pc.unique(pc.list_flatten(pc.utf8_split_whitespace(t))) for t in texts]
        with tracer.span("core.estimate"):
            m["core.estimate_s"] = _timed(lambda: [cmcu.estimate_tokens(u) for u in uniq])
        m["core.state_bytes.cmcu"] = float(len(cmcu.to_bytes()))
        m["core.state_bytes.bloom"] = float(len(bloom.to_bytes()))

        # per-host states as the keyed path builds them, one pair per host of the sample
        table = pa.Table.from_batches(batches)
        host = table["host"].to_numpy(zero_copy_only=False)
        url_keys = hash_strings(table["url"], seed=1)
        values = np.concatenate(crawl)
        states = {"hll": [], "kll": []}
        for h in np.unique(host):
            rows = np.flatnonzero(host == h)
            hll, kll = keyed["hll"].make(), keyed["kll"].make()
            hll.update_hashed(url_keys[rows])
            kll.update_values(values[rows])
            states["hll"].append(hll)
            states["kll"].append(kll)
        blobs = {kind: [s.to_bytes() for s in sk] for kind, sk in states.items()}
        for kind, bs in blobs.items():
            m[f"core.state_bytes.{kind}"] = float(np.mean([len(b) for b in bs]))
        with tracer.span("core.serialize"):
            m["core.serialize_s"] = _timed(
                lambda: [s.to_bytes() for sk in states.values() for s in sk]
            )

        def fold():
            for bs in blobs.values():
                acc = sketch_from_bytes(bs[0])
                for b in bs[1:]:
                    acc.merge(sketch_from_bytes(b))

        with tracer.span("core.merge"):
            m["core.merge_s"] = _timed(fold)
        m["core.keyed_states"] = float(len(states["hll"]))
    finally:
        pa.set_cpu_count(threads)
    return m


# ------------------------------------------------------------ Spark probes


def scan_probe(tracer: Tracer, df, columns: list[str]) -> dict:
    """JVM scan and JVM->Arrow handoff: a mapInArrow that only counts bytes."""

    def count(batches):
        rows = size = 0
        for b in batches:
            rows += b.num_rows
            size += b.nbytes
        yield pa.RecordBatch.from_pydict({"rows": [rows], "bytes": [size]})

    with tracer.span("sources.scan_arrow") as span:
        got = df.select(*columns).mapInArrow(count, "rows long, bytes long").collect()
        span["counts"]["rows"] = sum(r["rows"] for r in got)
    return {
        "sources.scan_arrow_s": tracer.seconds("sources.scan_arrow")[-1],
        "sources.arrow_mb": sum(r["bytes"] for r in got) / 1e6,
    }


def aggregate_probe(tracer: Tracer, df, specs) -> dict:
    """Partial build, merge and collect of the fused pass, timed one at a time."""
    from pyspark.sql import functions as F

    from sketch_spark.operators.aggregate import SketchResult, build_partials, merge_partials

    with tracer.span("aggregate.build_partials"):
        build_partials(df, specs).write.format("noop").mode("overwrite").save()
    with tracer.span("aggregate.checkpoint_partials"):
        partials = build_partials(df, specs).localCheckpoint(eager=True)
    stats = partials.agg(F.count("*").alias("n"), F.sum(F.length("state")).alias("b")).first()
    with tracer.span("aggregate.merge"):
        merged = merge_partials(partials).localCheckpoint(eager=True)
    with tracer.span("aggregate.collect"):
        SketchResult([r.asDict() for r in merged.collect()], [])
    return {
        "aggregate.build_partials_s": tracer.seconds("aggregate.build_partials")[-1],
        "aggregate.merge_s": tracer.seconds("aggregate.merge")[-1],
        "aggregate.collect_s": tracer.seconds("aggregate.collect")[-1],
        "aggregate.partials": float(stats["n"]),
        "aggregate.partial_state_mb": stats["b"] / 1e6,
    }


def keyed_probe(tracer: Tracer, df, specs, salt: int) -> dict:
    """The keyed path one step at a time: salted exchange, partial build, fold.

    The exchange's output and the partials are checkpointed untimed, so each
    timed step runs only its own work.
    """
    from sketch_spark.operators.aggregate import (
        build_partials,
        merge_partials,
        partition_histogram,
        salted_spread,
    )

    value_cols = sorted({s.column for s in specs})
    spread = salted_spread(df, ["host"], value_cols, salt=salt)
    with tracer.span("aggregate.salted_spread"):
        spread.write.format("noop").mode("overwrite").save()
    with tracer.span("aggregate.partition_histogram"):
        hist = partition_histogram(spread, spread.rdd.getNumPartitions())
    with tracer.span("aggregate.checkpoint_spread"):
        spread = spread.localCheckpoint(eager=True)
    with tracer.span("aggregate.keyed_partials") as span:
        partials = build_partials(spread, specs, group_cols=["host"], spread_small_inputs=False)
        partials = partials.localCheckpoint(eager=True)
    rows = partials.count()
    span["counts"]["state_rows"] = rows
    with tracer.span("aggregate.keyed_fold"):
        merge_partials(partials, ["host"], two_level=False).write.format("noop").mode(
            "overwrite"
        ).save()
    counts = list(hist.values())
    return {
        "aggregate.spread_s": tracer.seconds("aggregate.salted_spread")[-1],
        "aggregate.keyed_build_s": tracer.seconds("aggregate.keyed_partials")[-1],
        "aggregate.fold_s": tracer.seconds("aggregate.keyed_fold")[-1],
        "aggregate.skew_max_over_mean": max(counts) / max(statistics.mean(counts), 1e-9),
        "aggregate.keyed_state_rows": float(rows),
    }


def emerging_probe(tracer: Tracer, test_df, control_df, spec, ans: dict) -> tuple[dict, list[str]]:
    """The emerging query's steps, then the whole query on the same sketch.

    Returns the metrics and the problems ``check.emerging`` finds in the
    candidates and in the query's rows.
    """
    import check
    from sketch_spark.operators.aggregate import sketch_aggregate
    from sketch_spark.operators.emerging import (
        broadcast_sketch,
        candidate_token_counts,
        emerging_heavy_hitters,
    )

    want = ans["emerging_hh"]
    threshold = want["threshold"]
    spark = test_df.sparkSession
    with tracer.span("emerging.sketch"):
        sketch = sketch_aggregate(test_df, [spec]).sketch(spec.name)
    with tracer.span("emerging.broadcast"):
        bc = broadcast_sketch(spark, sketch)
    with tracer.span("emerging.candidates") as span:
        cand = {r["token"]: r["cnt"] for r in candidate_token_counts(test_df, "text", bc, threshold).collect()}
        span["counts"]["candidates"] = len(cand)
    with tracer.span("emerging.control"):
        candidate_token_counts(control_df, "text", bc, threshold).collect()
    bc.unpersist()
    with tracer.span("emerging.query") as span:
        rows = emerging_heavy_hitters(
            test_df, control_df, "text", threshold=threshold, growth=want["growth"],
            mode="exact", prebuilt_sketch=sketch,
        ).collect()
        span["counts"]["rows"] = len(rows)
    problems = check.emerging(cand, [tuple(r) for r in rows], ans)
    return {
        "emerging.sketch_s": tracer.seconds("emerging.sketch")[-1],
        "emerging.broadcast_s": tracer.seconds("emerging.broadcast")[-1],
        "emerging.candidate_s": tracer.seconds("emerging.candidates")[-1],
        "emerging.control_s": tracer.seconds("emerging.control")[-1],
        "emerging.query_s": tracer.seconds("emerging.query")[-1],
        "emerging.candidates": float(len(cand)),
        "emerging.candidate_yield": len(rows) / max(len(cand), 1),
    }, problems
