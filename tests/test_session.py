"""Session construction: the package zip ships once per SparkContext."""

import tempfile


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
