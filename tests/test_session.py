"""Session settings that `get_spark` builds in: the compiled-class cache is
large enough that a query repeated after many other queries reuses its
generated classes instead of compiling them again."""

from __future__ import annotations

from flink_parent_spark.session import CODEGEN_CACHE_ENTRIES

CACHE_KEY = "spark.sql.codegen.cache.maxEntries"


def _compile_count(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark, i: int):
    # integer literals are inlined into the generated source, so each i
    # compiles classes of its own
    return spark.range(10).selectExpr(f"id * {i} + {i} AS x").collect()


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get(CACHE_KEY) == str(CODEGEN_CACHE_ENTRIES)


def test_repeated_query_reuses_its_compiled_classes(spark):
    """150 queries with distinct generated code overflow Spark's default
    100-entry cache, which then has evicted the first query's classes."""
    first = _run(spark, 1)
    before = _compile_count(spark)
    for i in range(2, 151):
        _run(spark, i)
    assert _compile_count(spark) > before  # the distinct queries did compile

    before = _compile_count(spark)
    assert _run(spark, 1) == first
    assert _compile_count(spark) == before
