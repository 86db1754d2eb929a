"""Session-level behaviour of ``get_spark`` that outlives any one query."""

from __future__ import annotations

from tests.conftest import SF_DIR

# The twelve dashboard panels: short read-only queries that one serving
# process re-runs all day. Together they generate ~150 distinct
# generated classes (measured from a fresh session at sf0.001), more
# than the 100 Spark's codegen cache holds by default.
PANELS = (
    "kpi_overview",
    "daily_sales",
    "sales_by_geography",
    "rfm_segments",
    "seller_performance",
    "delivery_performance",
    "order_status_distribution",
    "top_categories_by_revenue",
    "sales_master_join",
    "pricing_summary",
    "revenue_by_nation",
    "customer_order_distribution",
)


def _janino_compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_repeated_queries_compile_once(spark):
    """Re-running a working set of queries compiles nothing new: every
    generated class of the first pass is still in the codegen cache on
    the second. With Spark's default 100-entry cache the panels, looked
    up in the same order each pass, miss on nearly every class and the
    second pass re-runs Janino ~150 times."""
    from ecom_etl_proj_spark.plans import registry

    qs = registry.queries()

    def run_pass() -> int:
        before = _janino_compiles(spark)
        for name in PANELS:
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return _janino_compiles(spark) - before

    run_pass()
    assert run_pass() == 0
