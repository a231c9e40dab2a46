"""Spark's generated-class cache holds the catalog's working set.

At Spark's default of 100 entries, one pass over perfbench's eight
catalog queries evicts classes the next pass needs again, so every warm
pass re-compiles them with Janino and the JVM JIT-compiles them again.
``get_spark`` sizes the cache so that a second pass over the same
queries compiles no class at all."""

from __future__ import annotations

import pytest

from perfbench.workloads import CATALOG_QUERIES
from wikihadoop_spark.observability import codegen_compiles
from wikihadoop_spark.relational import QUERIES
from wikihadoop_spark.session import CODEGEN_CACHE_MAX_ENTRIES

SF = "/root/testdata/sf0.001"
CONF = "spark.sql.codegen.cache.maxEntries"


def _pass(spark, names) -> None:
    """Each query built fresh and computed in full into a noop sink, as
    the catalog workload runs it."""
    for name in names:
        spark.catalog.clearCache()
        QUERIES[name](spark, SF).write.format("noop").mode("overwrite").save()


def _second_pass_compiles(spark, names) -> tuple[int, int]:
    """Classes compiled by the first and by the second of two passes."""
    start = codegen_compiles(spark)
    _pass(spark, names)
    middle = codegen_compiles(spark)
    _pass(spark, names)
    end = codegen_compiles(spark)
    assert start is not None and middle is not None and end is not None
    return middle[0] - start[0], end[0] - middle[0]


def test_get_spark_sessions_carry_the_codegen_cache_size(spark):
    want = str(CODEGEN_CACHE_MAX_ENTRIES)
    assert spark.sparkContext.getConf().get(CONF) == want
    assert spark.conf.get(CONF) == want


def test_codegen_compiles_reads_count_and_milliseconds(spark):
    before = codegen_compiles(spark)
    # a projection no other test compiles: one new class at least
    spark.range(7).selectExpr("id * 7919 + 104729 AS codegen_probe").collect()
    after = codegen_compiles(spark)
    assert after[0] > before[0]
    assert after[1] > before[1] >= 0


def test_catalog_queries_second_pass_compiles_nothing(spark):
    first, second = _second_pass_compiles(spark, CATALOG_QUERIES)
    assert second == 0, (
        f"the second pass over {len(CATALOG_QUERIES)} catalog queries "
        f"compiled {second} classes (first pass: {first})"
    )


@pytest.mark.slow
def test_full_catalog_second_pass_compiles_almost_nothing(spark):
    """The whole catalog fits the cache too.  A few of its queries
    (``text_tfidf_topk``, ``semantic_dedup``) now and then compile 2-6
    classes on a warm pass, with the same final plan: the generated
    class names its whole-stage codegen stage, adaptive execution
    numbers those stages in the order it plans them at run time, and a
    renumbered class is a new cache key.  At Spark's default of 100
    entries the second pass re-compiles more than the first pass did."""
    first, second = _second_pass_compiles(spark, sorted(QUERIES))
    assert second <= first // 100, (
        f"the second pass over all {len(QUERIES)} catalog queries "
        f"compiled {second} classes (first pass: {first})"
    )
