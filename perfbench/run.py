"""Benchmark of the fused sketch pass and of keyed host sketches.

Run from the root of a checkout:

    python3 perfbench/run.py --workload sketch_build --seed 1 --seconds 12 --trace 0

Workloads (see ``workloads()``):

* ``sketch_build``: one global ``sketch_aggregate`` pass building four n-gram
  orders of CMCU plus an HLL and a Bloom filter over page text;
* ``keyed_hosts``: ``keyed_sketch_aggregate`` per host, HLL of distinct URLs and
  KLL of crawl time, written as parquet.

The first exercises the token layer and bypasses per-key state; the second does
the opposite.  ``emerging_heavy_hitters`` has no workload of its own (its runs
spread too widely under host contention to fit the time budget next to these
two); the traced run still measures each of its steps and checks its result.

A run generates its input from ``--seed`` (``gen.py``), starts a ``local[4]``
session and runs one untimed warm-up job.  It then repeats the timed job for
``--seconds`` seconds (at least five times) and checks every output against the
generator's exact answers (``check.py``).  The last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it records the session settings and input size.

``--trace 0`` reports the end-to-end metrics: set-up time, then the user+sys
CPU seconds the JVM and its python workers spend per job (median over the
repetitions) and the PSS peak of a python worker (highest over them).  Wall
time per job is logged to stderr; it follows the host's CPU steal, so it is
reported by the traced run instead.  ``--trace 1`` reports the
per-layer metrics instead.  Its session writes the Spark event log; after the
warm-up it runs two untraced jobs and two jobs inside spans, in ABBA order
(``trace.overhead_pct`` compares the two), then runs the layer probes of
``tracing.py``.  The emerging probe ends with the whole query, checked like a
timed job and counted as one more operation.  It writes ``perfbench/out/<workload>/``: the spans, the event
log and ``layers.json``, which names the dominant layer.

Everything the run writes stays inside the checkout.  Generated input, Spark
scratch space and temp files go to ``perfbench/.work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import asdict, dataclass
from typing import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
SHUFFLE_PARTITIONS = 8
ARROW_BATCH_ROWS = 4096
DRIVER_MEM = "3g"
MIN_REPS = 5
TRACED_REPS = 2
# the first job pays python-worker start-up and most JIT compilation; later
# jobs keep speeding up a little, which is why every run times the same number
# of them (MIN_REPS outlasts --seconds at the benchmark's run length)
WARMUP_JOBS = 1
SALT = 8


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def import_program():
    """Import the package from this checkout, and only from there."""
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)
    try:
        import sketch_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import sketch_spark from {ROOT}: {e}")
    if os.path.dirname(os.path.dirname(os.path.abspath(sketch_spark.__file__))) != ROOT:
        sys.exit(f"perfbench: sketch_spark resolved outside the checkout: {sketch_spark.__file__}")


def session_conf(work: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        # one scan split per parquet file, so the file count sets the task count
        "spark.sql.files.maxPartitionBytes": str(4 << 20),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def start_session(work: str, event_log: str | None = None):
    from sketch_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=CORES,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=session_conf(work, event_log),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait until the JVM and its python workers are gone."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from procfs import alive, descendants

    gateway = SparkContext._gateway
    proc = gateway.proc
    tree = descendants(proc.pid)
    spark.stop()
    try:
        gateway.shutdown()
    except Py4JError:
        pass
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in tree:
        if alive(p):
            os.kill(p, signal.SIGKILL)


# ----------------------------------------------------------------- workloads


def sketch_specs():
    from sketch_spark.operators.aggregate import SketchSpec

    cm = {"depth": 4, "log2_width": 14, "seed": 1}
    return [SketchSpec(f"cmcu{k}", "cmcu", "text", ngram=k, params=cm) for k in (1, 2, 3, 4)] + [
        SketchSpec("hll", "hll", "text", params={"p": 16, "seed": 1}),
        SketchSpec("bloom", "bloom", "text", params={"log2_bits": 20, "k": 5, "seed": 1}),
    ]


def keyed_specs():
    from sketch_spark.operators.aggregate import SketchSpec

    return [
        SketchSpec("hll", "hll", "url", mode="value", params={"p": 14, "seed": 1}),
        SketchSpec("kll", "kll", "crawl_ms", mode="numeric", params={"k": 200, "seed": 1}),
    ]


def emerging_spec():
    """The CMCU ``emerging_heavy_hitters`` builds with its default geometry."""
    from sketch_spark.operators.aggregate import SketchSpec

    return SketchSpec("cmcu", "cmcu", "text", params={"depth": 4, "log2_width": 14, "seed": 1})


class Ctx:
    """What a job needs: the session, the pages table and the exact answers."""

    def __init__(self, spark, data_dir: str, out_dir: str, ans: dict):
        from pyspark.sql import functions as F

        from sketch_spark.sources.pages import load_pages

        self.spark = spark
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.ans = ans
        self.pages = load_pages(spark, data_dir)
        self.test = self.pages.filter(F.col("window") == "test")
        self.control = self.pages.filter(F.col("window") == "control")


def job_sketch_build(ctx: Ctx):
    from sketch_spark.operators.aggregate import sketch_aggregate

    return sketch_aggregate(ctx.pages, sketch_specs())


def job_keyed_hosts(ctx: Ctx):
    from sketch_spark.operators.aggregate import keyed_sketch_aggregate

    merged = keyed_sketch_aggregate(ctx.pages, ["host"], keyed_specs(), salt=SALT)
    merged.write.mode("overwrite").parquet(ctx.out_dir)
    return ctx.out_dir


def check_keyed_hosts(path: str, ans: dict) -> list[str]:
    import pyarrow.parquet as pq

    import check

    return check.keyed_hosts(pq.read_table(path), ans)


@dataclass(frozen=True)
class Workload:
    shape: object  # gen.Shape
    job: Callable[[Ctx], object]
    check: Callable[[object, dict], list[str]]
    scan_columns: list[str]  # what the operator reads, for the scan probe


def workloads() -> dict[str, Workload]:
    import check
    from gen import Shape

    return {
        "sketch_build": Workload(
            Shape(pages=12_000, tokens_per_page=275, vocab=50_000),
            job_sketch_build, check.sketch_build, ["text"],
        ),
        "keyed_hosts": Workload(
            Shape(pages=6_000, tokens_per_page=20, vocab=5_000),
            job_keyed_hosts, check_keyed_hosts, ["host", "url", "crawl_ms"],
        ),
    }


# ----------------------------------------------------------------- measuring


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def run_once(wl: Workload, ctx: Ctx, pid: int) -> dict | None:
    """One timed job and its check; None when it raised or answered wrong."""
    from procfs import PssSampler, tree_cpu_s

    cpu0 = tree_cpu_s(pid)
    with PssSampler(pid) as pss:
        t0 = time.perf_counter()
        try:
            out = wl.job(ctx)
        except Exception:
            traceback.print_exc()
            return None
        job_s = time.perf_counter() - t0
    cpu_s = tree_cpu_s(pid) - cpu0
    problems = wl.check(out, ctx.ans)
    for p in problems:
        print(f"perfbench: wrong answer: {p}", file=sys.stderr)
    if problems:
        return None
    log(f"job_s {job_s:.3f}, cpu_s {cpu_s:.2f}, worker_pss_peak_mb {pss.peak_mb:.1f}")
    return {"job_s": job_s, "cpu_s": cpu_s, "worker_pss_peak_mb": pss.peak_mb}


def measure(wl: Workload, ctx: Ctx, pid: int, seconds: float):
    """Repeat the job for ``seconds``, and at least ``MIN_REPS`` times."""
    samples, attempted = [], 0
    deadline = time.perf_counter() + seconds
    while attempted < MIN_REPS or time.perf_counter() < deadline:
        attempted += 1
        s = run_once(wl, ctx, pid)
        if s is not None:
            samples.append(s)
    return samples, attempted


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median_of(samples: list[dict], key: str) -> float:
    return statistics.median(s[key] for s in samples)


def setup(wl: Workload, seed: int, work: str, tracer=None, event_log: str | None = None):
    """Session bring-up, input generation and write, and the untimed warm-up."""
    import gen
    from contextlib import nullcontext

    def span(n):
        return tracer.span(n) if tracer else nullcontext()

    t0 = time.perf_counter()
    with span("session.start"):
        spark = start_session(work, event_log)
    session_s = time.perf_counter() - t0
    if tracer:
        tracer.spark = spark
    data_dir = os.path.join(work, "data")
    with span("setup.generate"):
        ans = gen.materialize(wl.shape, seed, data_dir, CORES)
    t1 = time.perf_counter()
    ctx = Ctx(spark, data_dir, os.path.join(work, "out"), ans)
    with span("setup.warmup"):
        for _ in range(WARMUP_JOBS):
            wl.job(ctx)
    log(f"setup: session {session_s:.2f} s, generate {t1 - t0 - session_s:.2f} s, "
        f"warm-up {time.perf_counter() - t1:.2f} s, process age {process_age_s():.2f} s")
    return ctx, session_s


# ----------------------------------------------------------------- main


def end_to_end(name: str, wl: Workload, args, work: str) -> dict:
    from procfs import cpu_ticks, steal_pct

    ctx, _ = setup(wl, args.seed, work)
    setup_s = process_age_s()
    ticks = cpu_ticks()
    samples, attempted = measure(wl, ctx, jvm_pid(ctx.spark), args.seconds)
    log(f"steal during the timed jobs: {steal_pct(ticks):.1f}%")
    stop_session(ctx.spark)
    if not samples:
        sys.exit("perfbench: every timed job failed")
    values = {
        "setup_s": setup_s,
        "cpu_s": median_of(samples, "cpu_s"),
        # reused workers keep freed memory, so the peak is taken over all jobs
        "worker_pss_peak_mb": max(s["worker_pss_peak_mb"] for s in samples),
    }
    return result(attempted, len(samples), {k: (values[k], u) for k, u in END_TO_END_UNITS})


def result(attempted: int, ok: int, metrics: dict) -> dict:
    return {
        "correct": ok == attempted,
        "attempted": attempted,
        "failed": attempted - ok,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer(name: str, wl: Workload, args, work: str) -> dict:
    import tracing

    tracer = tracing.Tracer(name)
    out_dir = os.path.join(HERE, "out", name)
    shutil.rmtree(out_dir, ignore_errors=True)
    log_dir = os.path.join(out_dir, "eventlog")
    os.makedirs(log_dir)
    ctx, session_s = setup(wl, args.seed, work, tracer, event_log=log_dir)
    pid = jvm_pid(ctx.spark)
    plain, traced = [], []

    def run_plain():
        plain.extend(filter(None, [run_once(wl, ctx, pid)]))

    def run_traced():
        with tracer.span("job", op=f"rep{len(traced) + 1}") as span:
            traced.extend(filter(None, [run_once(wl, ctx, pid)]))
            span["counts"]["pages"] = ctx.ans["pages"]

    # untraced and traced jobs in ABBA order, so the JIT warm-up that keeps
    # speeding later jobs up favours neither side
    for i in range(TRACED_REPS):
        for run in (run_plain, run_traced) if i % 2 == 0 else (run_traced, run_plain):
            run()
    if not plain or not traced:
        sys.exit("perfbench: every timed job failed")

    # wall time per untraced job; it moved with the host's CPU steal (up to 14%
    # in a run), so it is a per-layer figure and CPU seconds gate instead
    job_s = median_of(plain, "job_s")
    m: dict[str, float] = {
        "job_s": job_s,
        "pages_per_s": ctx.ans["pages"] / job_s,
        "session.start_s": session_s,
    }
    m.update(tracing.scan_probe(tracer, ctx.pages, wl.scan_columns))
    batches = tracing.sample_batches(ctx.data_dir, 2 * ARROW_BATCH_ROWS, ARROW_BATCH_ROWS)
    sample_rows = sum(b.num_rows for b in batches)
    m.update(
        tracing.core_probes(
            tracer,
            batches,
            {s.name: s for s in sketch_specs()},
            {s.name: s for s in keyed_specs()},
        )
    )
    m.update(tracing.aggregate_probe(tracer, ctx.pages, sketch_specs()))
    m.update(tracing.keyed_probe(tracer, ctx.pages, keyed_specs(), SALT))
    # the emerging query has no workload of its own; its checked run here is
    # one more operation
    emerging, problems = tracing.emerging_probe(
        tracer, ctx.test, ctx.control, emerging_spec(), ctx.ans
    )
    m.update(emerging)
    for p in problems:
        print(f"perfbench: wrong answer: emerging {p}", file=sys.stderr)
    stop_session(ctx.spark)

    stages = tracing.reduce_event_log(log_dir)
    job = stages.get("job", {})
    reps = len(traced)
    for key in ("executor_run_s", "executor_cpu_s", "jvm_gc_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "tasks"):
        m[f"spark.{key}"] = job.get(key, 0) / reps
    m["spark.task_skew"] = job.get("task_skew", 1.0)
    traced_s = median_of(traced, "job_s")
    m["trace.overhead_pct"] = 100.0 * (traced_s / job_s - 1.0)

    table = layer_table(name, ctx.ans, m, traced_s, sample_rows)
    tracer.write(os.path.join(out_dir, "spans.json"))
    with open(os.path.join(out_dir, "layers.json"), "w") as f:
        json.dump({"metrics": m, "stages": stages, **table}, f, indent=1, sort_keys=True)
    print(json.dumps(table), file=sys.stderr)
    units = {k: u for k, u in PER_LAYER_UNITS}
    ok = len(plain) + len(traced) + (not problems)
    return result(2 * TRACED_REPS + 1, ok, {k: (m[k], units[k]) for k, _ in PER_LAYER_UNITS})


def layer_table(name: str, ans: dict, m: dict, job_s: float, sample_rows: int) -> dict:
    """Each layer's estimated seconds of the traced job, and the dominant one.

    One-core probe times are scaled from the sample to the whole input and
    divided over the session's cores; Spark-side probes are walls already.
    """
    scale = (ans["tokens"] / max(m["text.tokens"], 1)) / CORES
    rows_scale = ans["pages"] / sample_rows / CORES
    if name == "sketch_build":
        layers = {
            "sources (scan + Arrow handoff)": m["sources.scan_arrow_s"],
            "functions.text tokenize": m["text.tokenize_s"] * scale,
            "core.hashing n-grams": m["hashing.ngram_s"] * scale,
            "core updates": sum(m[f"core.update_s.{k}"] for k in ("cmcu", "hll", "bloom")) * scale,
            "aggregate merge": m["aggregate.merge_s"],
            "aggregate collect": m["aggregate.collect_s"],
        }
        tok_hash = layers["functions.text tokenize"] + layers["core.hashing n-grams"]
        verdict = (
            f"tokenize+hash is an estimated {100 * tok_hash / job_s:.0f}% of job_s: "
            + ("it dominates, as ROADMAP D2 predicts" if tok_hash >= 0.5 * job_s
               else "it does not dominate, against ROADMAP D2's prediction")
        )
    else:
        # the scan probe overlaps the spread (scan) and the build (Arrow
        # handoff), and the build includes the value hashing: shown apart
        steps = ("aggregate.spread_s", "aggregate.keyed_build_s", "aggregate.fold_s")
        layers = {
            "aggregate salted spread (scan + exchange)": m["aggregate.spread_s"],
            "aggregate keyed build": m["aggregate.keyed_build_s"],
            "aggregate fold": m["aggregate.fold_s"],
            "unattributed (job minus the three steps)": max(job_s - sum(m[k] for k in steps), 0.0),
        }
        parts = {
            "sources scan + Arrow handoff (overlaps spread and build)": m["sources.scan_arrow_s"],
            "core.hashing values (part of the build)": m["hashing.value_s"] * rows_scale,
        }
        verdict = f"{ans['pages']} rows over {len(ans['keyed_hosts']['hosts'])} hosts; parts: {parts}"
    dominant = max(layers, key=layers.get)
    return {
        "workload": name,
        "traced_job_s": job_s,
        "layers_s": layers,
        "dominant": dominant,
        "note": verdict,
    }


END_TO_END_UNITS = [
    ("setup_s", "s"),
    ("cpu_s", "s"),
    ("worker_pss_peak_mb", "MB"),
]

PER_LAYER_UNITS = [
    ("job_s", "s"),
    ("pages_per_s", "pages/s"),
    ("session.start_s", "s"),
    ("sources.scan_arrow_s", "s"),
    ("sources.arrow_mb", "MB"),
    ("text.tokenize_s", "s"),
    ("text.tokens", "count"),
    ("text.tokenize_mtok_per_s", "Mtok/s"),
    ("hashing.ngram_s", "s"),
    ("hashing.value_s", "s"),
    ("core.update_s.cmcu", "s"),
    ("core.update_s.hll", "s"),
    ("core.update_s.bloom", "s"),
    ("core.update_s.kll", "s"),
    ("core.estimate_s", "s"),
    ("core.serialize_s", "s"),
    ("core.merge_s", "s"),
    ("core.keyed_states", "count"),
    ("core.state_bytes.cmcu", "bytes"),
    ("core.state_bytes.hll", "bytes"),
    ("core.state_bytes.bloom", "bytes"),
    ("core.state_bytes.kll", "bytes"),
    ("aggregate.build_partials_s", "s"),
    ("aggregate.merge_s", "s"),
    ("aggregate.collect_s", "s"),
    ("aggregate.partials", "count"),
    ("aggregate.partial_state_mb", "MB"),
    ("aggregate.spread_s", "s"),
    ("aggregate.keyed_build_s", "s"),
    ("aggregate.fold_s", "s"),
    ("aggregate.skew_max_over_mean", "ratio"),
    ("aggregate.keyed_state_rows", "count"),
    ("emerging.sketch_s", "s"),
    ("emerging.broadcast_s", "s"),
    ("emerging.candidate_s", "s"),
    ("emerging.control_s", "s"),
    ("emerging.query_s", "s"),
    ("emerging.candidates", "count"),
    ("emerging.candidate_yield", "ratio"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.jvm_gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.tasks", "count"),
    ("spark.task_skew", "ratio"),
    ("trace.overhead_pct", "%"),
]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import_program()
    import gen

    wls = workloads()
    if args.workload not in wls:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(wls)}")

    # on SIGTERM, unwind through the cleanup below instead of dying in place
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "local"), exist_ok=True)
    # temp files, Spark scratch space and the native-kernel cache stay in the checkout
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    try:
        run = per_layer if args.trace else end_to_end
        res = run(args.workload, wls[args.workload], args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    settings = {
        "workload": args.workload,
        "seed": args.seed,
        "input": dict(asdict(wls[args.workload].shape), hosts=gen.HOSTS, files_per_window=CORES),
        "cores": CORES,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "arrow_batch_rows": ARROW_BATCH_ROWS,
        "driver_mem": DRIVER_MEM,
    }
    print(json.dumps({"settings": settings}))
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
