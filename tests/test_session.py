"""Session configuration pins."""

from __future__ import annotations

from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
from perfbench.queries import QUERY_MIX
from tests.conftest import SF_DIR


def test_warm_query_mix_pass_compiles_nothing(spark):
    """The generated-code cache holds a whole query_mix pass (~210
    distinct sources), so a warm pass reuses every class. At Spark's
    default of 100 entries the LRU evicts each pass's sources before the
    next pass reaches them, and every warm pass recompiles all of them."""
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())

    def one_pass():
        for name in QUERY_MIX:
            QUERIES[name].spark(spark, SF_DIR).write.format("noop") \
                .mode("overwrite").save()

    one_pass()
    before = compiles.getCount()
    one_pass()
    assert compiles.getCount() - before == 0
