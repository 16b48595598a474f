"""sketch_spark — a PySpark-native distributed sketch / approximate
aggregation library, built from scratch around the mergeable-sketch idea
of the reference (HansLehnert/sketch: Count-Min with conservative
update over streamed tokens), generalized per BASELINE.json north_rule:

* ``sketch_spark.core`` — Spark-free numpy sketch states
  (CountMin, CountMinCU, HyperLogLog, KLL, BloomFilter).
* ``sketch_spark.operators`` — DataFrame-level operators: Arrow-batched
  partial sketch aggregation + salted tree merge, emerging heavy
  hitters, dedup family, similarity search, checkpoint/resume.
* ``sketch_spark.sources`` — deterministic synthetic Common-Crawl-style
  pages table (Iceberg-shaped; parquet adapter in this sandbox).
* ``sketch_spark.functions`` — text analysis & multimodal column
  helpers (JVM-side expressions preferred; Arrow UDFs otherwise).
* ``sketch_spark.plans`` — plan inspection helpers (pushdown /
  broadcast / codegen assertions used by tests).
* ``sketch_spark.streaming`` — Structured Streaming sketch maintenance.
"""

__version__ = "0.1.0"


def _drop_zip_finders() -> None:
    """Forget the cached zip finders: a PySpark worker's per-task
    ``importlib.invalidate_caches()`` makes each re-read its whole
    archive directory, yet Spark never changes an archive in place. A
    later import builds a new finder from zipimport's directory cache."""
    import sys
    import zipimport

    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


_drop_zip_finders()
