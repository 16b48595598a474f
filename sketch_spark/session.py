"""SparkSession construction with the configs this library assumes.

Local-mode testbed for a design that targets multi-executor clusters:
AQE on (runtime skew handling), shuffle partitions sized to cores (not
the 200 default), Arrow enabled end-to-end (every hot path here crosses
the JVM<->Python boundary in Arrow batches), UTC session timezone (the
DuckDB oracle compares timestamps as UTC-naive).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip(dest_dir: str | None = None) -> str:
    """Zip the sketch_spark package for ``--py-files`` shipping.

    This is how the library reaches executors on a real cluster
    (``spark-submit --py-files sketch_spark.zip``); ``get_spark`` ships
    it automatically via ``addPyFile`` so local sessions behave the
    same way regardless of the caller's cwd.
    """
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    dest_dir = dest_dir or tempfile.mkdtemp(prefix="sketch_spark_zip_")
    zpath = os.path.join(dest_dir, "sketch_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.join("sketch_spark", os.path.relpath(full, pkg_root))
                zf.write(full, rel)
    return zpath


def ship_package(sc) -> None:
    """``addPyFile`` the package zip once per SparkContext.

    Spark registers the file by name, so a second zip of a changed tree
    under the same name would fail every later task; the zip therefore
    ships once, from one temp dir that lives until the process exits.
    """
    if getattr(sc, "_sketch_spark_shipped", False):
        return
    dest = tempfile.mkdtemp(prefix="sketch_spark_zip_")
    atexit.register(shutil.rmtree, dest, True)
    sc.addPyFile(package_zip(dest))
    sc._sketch_spark_shipped = True


def get_spark(
    app_name: str = "sketch_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cores]`` — e.g.
    ``local-cluster[W,C,mem]`` for real multi-executor-JVM runs
    (bench_util/scaling.py --mode process) — while keeping every other
    session config (UTC, Arrow, AQE, malloc tuning) identical, so
    topology comparisons never measure config drift."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)
    # glibc malloc tuning inherited by the Python workers: without it,
    # every large numpy allocation mmap/munmaps (kernel page zeroing),
    # which collapses under 32 concurrent workers (observed 55-80% sys
    # time); forcing heap reuse keeps the hot loop in user space
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(512 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(512 * 1024 * 1024))
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark.sparkContext)
    return spark
