"""Session construction: the package zip ships once per SparkContext,
and importing the package drops the zip finders a worker re-reads."""

import importlib
import sys
import tempfile
import zipfile
import zipimport


def test_package_ships_once_per_context(spark, sf001, monkeypatch):
    """A second ``get_spark`` and a contract ``_read`` on a running
    session neither zip the package again nor ``addPyFile`` it: a fresh
    zip of a changed tree under the registered name would fail every
    later task."""
    import __spark_entry__ as em
    from sketch_spark.session import get_spark

    made, added = [], []
    mkdtemp = tempfile.mkdtemp
    monkeypatch.setattr(tempfile, "mkdtemp", lambda *a, **k: made.append(a) or mkdtemp(*a, **k))
    monkeypatch.setattr(spark.sparkContext, "addPyFile", added.append)
    again = get_spark("sketch_spark-tests", cores=8, shuffle_partitions=8)
    assert again.sparkContext is spark.sparkContext
    assert em._read(again, sf001, "documents").count() > 0
    assert made == [] and added == []


def test_drop_zip_finders_stops_directory_rereads(tmp_path, monkeypatch):
    """After the drop, ``invalidate_caches()`` reads no zip directory,
    and a submodule first imported later still loads from the zip."""
    from sketch_spark import _drop_zip_finders

    zpath = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/sub/__init__.py", "")
        zf.writestr("zpkg/sub/a.py", "A = 1\n")
        zf.writestr("zpkg/sub/b.py", "B = 2\n")
    monkeypatch.syspath_prepend(str(zpath))
    try:
        assert importlib.import_module("zpkg.sub.a").A == 1
        cached = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
        assert {f.prefix for f in cached if f.archive == str(zpath)} == {"", "zpkg/", "zpkg/sub/"}

        _drop_zip_finders()
        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
        importlib.invalidate_caches()
        assert reads == []
        assert importlib.import_module("zpkg.sub.b").B == 2
        assert reads == []
    finally:
        for name in ("zpkg.sub.b", "zpkg.sub.a", "zpkg.sub", "zpkg"):
            sys.modules.pop(name, None)


def test_workers_keep_no_package_zip_finders(spark):
    """A python worker that has run a package task holds no finder for
    a package directory inside a zip (pyspark.zip keeps 13 of them in a
    worker that has not), so its per-task ``invalidate_caches()`` does
    not re-read those archives."""
    import pyarrow as pa

    from sketch_spark.operators.aggregate import SketchSpec, sketch_aggregate

    df = spark.range(8000, numPartitions=8).selectExpr("concat('w', cast(id % 97 as string)) AS text")
    res = sketch_aggregate(df, [SketchSpec("hll", "hll", "text", mode="value", params={"p": 12})])
    assert res.metrics[("hll",)]["n_values"] == 8000

    def probe(batches):
        import os
        import sys
        import zipimport

        for _ in batches:
            pass
        finders = [f for f in list(sys.path_importer_cache.values()) if isinstance(f, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pylist(
            [
                {
                    "pid": os.getpid(),
                    "has_package": "sketch_spark" in sys.modules,
                    "prefixed": sum(1 for f in finders if f.prefix),
                }
            ]
        )

    rows = spark.range(8, numPartitions=8).mapInArrow(probe, "pid long, has_package boolean, prefixed long").collect()
    warm = {r.pid: r.prefixed for r in rows if r.has_package}
    assert warm, rows
    assert set(warm.values()) == {0}, rows
