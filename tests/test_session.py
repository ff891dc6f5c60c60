"""Session factory: Spark's codegen cache holds a workload's classes.

Spark keeps compiled whole-stage classes in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries. A pass of the 14 reference
analytics generates more distinct classes than Spark's default of 100,
so at the default every class is evicted before the next pass asks for it
and each repeat pass compiles them all again.
"""

from __future__ import annotations

from gmall_flink_20_spark.queries import QUERIES
from gmall_flink_20_spark.session import CODEGEN_CACHE_ENTRIES
from perfbench.workloads import WORKLOADS

REFERENCE_ANALYTICS = WORKLOADS["events_batch"].queries


def _classes_compiled(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _empty_codegen_cache(spark) -> None:
    """Drop every compiled class, so the first pass below compiles its
    whole working set whatever ran earlier in this JVM."""
    jvm = spark._jvm
    gen = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = gen.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(gen.getField("MODULE$").get(None)).invalidateAll()


def test_codegen_cache_sized_by_the_factory(spark):
    conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(conf) == CODEGEN_CACHE_ENTRIES


def test_repeat_pass_of_reference_analytics_compiles_nothing(spark, sf_dir):
    _empty_codegen_cache(spark)
    compiled = []
    for _ in range(2):
        before = _classes_compiled(spark)
        for q in REFERENCE_ANALYTICS:
            QUERIES[q](spark, sf_dir).toPandas()
        compiled.append(_classes_compiled(spark) - before)
    first, repeat = compiled
    # more than Spark's default cache holds, so eviction is exercised
    assert first > 100, f"first pass compiled only {first} classes"
    assert repeat == 0, f"repeat pass compiled {repeat} classes"
