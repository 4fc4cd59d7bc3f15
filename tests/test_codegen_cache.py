"""Spark's generated-code cache holds a warm pass's whole working set.

The cache is an LRU keyed on generated source. When one run of a query
cycles through more classes than the cache holds, every class is evicted
before it is reused and each repeat run compiles all of them again. The
ANN graph frontier alone uses 137 classes, more than Spark's default of
100, so its warm runs are the sharpest check that the session factory's
cache size took effect.

The compile counter is Spark's own ``CodegenMetrics`` histogram, read
over py4j; in local mode the executors share the driver's JVM, so it
counts compiles in task threads too."""

from __future__ import annotations

import __spark_entry__ as entrymod
from calp_cva_tracking_pipeline_spark import session


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_session_carries_the_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_MAX_ENTRIES
    )


def test_warm_frontier_run_compiles_nothing(spark, sf_dir):
    frontier = entrymod.queries()["ann_graph_frontier"]

    def run():
        before = _compiles(spark)
        frontier(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return _compiles(spark) - before

    run()  # fills the cache
    assert run() == 0
