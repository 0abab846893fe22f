"""Session settings that the engine's warm-run speed depends on."""

from __future__ import annotations

from conftest import SF_SMALL

from mapreduce6240project_spark.plans import REGISTRY

#: the queries of perfbench's joins-txlog-10x workload: 123 distinct
#: generated classes, more than Spark's default 100-entry codegen cache
JOINS_TXLOG = (
    "pricing_summary",
    "top_customers",
    "regional_revenue",
    "session_window",
    "asof_last_signup",
    "txlog_merge_roundtrip",
)


def _codegen_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark) -> None:
    for name in JOINS_TXLOG:
        df = REGISTRY[name].fn(spark, SF_SMALL)
        df.write.format("noop").mode("overwrite").save()


def test_warm_pass_reuses_generated_classes(spark):
    # A cache smaller than the working set is cycled LRU and misses on
    # every access: with 100 entries the second pass recompiles ~90.
    _run_pass(spark)
    before = _codegen_compiles(spark)
    _run_pass(spark)
    assert _codegen_compiles(spark) - before == 0
