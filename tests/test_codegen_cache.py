"""Catalyst's generated code is compiled once per process: a second sweep
over the benchmark's query mix finds every class in the codegen cache
(``spark.sql.codegen.cache.maxEntries``, set in ``session.get_spark``)."""

from __future__ import annotations

import __spark_entry__ as mod

SF_DIR = "/root/testdata/sf0.001"

# the 13 ops of perfbench's ``queries`` workload; at Spark's default cache
# size of 100 their 184 classes evict each other on every sweep
OPS = (
    "q1_pricing_summary", "q2_top_nations", "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue", "tpch_q18_large_volume", "events_tumbling_10m",
    "events_sessionize", "window_running_totals", "exists_high_value_orders",
    "multimodal_image", "embedding_near_dups_lsh", "docs_minhash_signatures",
    "events_frequent_itemsets",
)


def test_second_sweep_compiles_nothing(spark):
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    queries = mod.queries()

    def sweep():
        for name in OPS:
            queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return metrics.METRIC_COMPILATION_TIME().getCount()

    warm = sweep()
    assert sweep() - warm == 0
