"""The engine session keeps its generated classes compiled.

Spark caches the classes it generates in an LRU keyed by their source
text. When the cache holds fewer entries than a pass over the workload
generates, each class is evicted before its next use, and every pass
compiles its code again. ``session.get_spark`` sizes the cache above
the engine's working set.
"""

from __future__ import annotations


def _compiles(spark) -> int:
    """Janino compiles in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_projections_compile_once(spark):
    # 120 projections that differ in one constant, each its own codegen
    # stage of one union: at least 120 distinct classes, more than Spark's
    # default cache of 100 entries
    query = " UNION ALL ".join(
        f"SELECT id * {i + 7} + 3 AS x FROM range(0, 1, 1, 1)" for i in range(120)
    )

    def one_round() -> int:
        before = _compiles(spark)
        spark.sql(query).write.format("noop").mode("overwrite").save()
        return _compiles(spark) - before

    assert one_round() >= 120
    assert one_round() <= 5
