"""Session-level behaviour that spans queries."""

from __future__ import annotations

from trading212_etl_spark.registry import QUERIES

# One entry per operator family; the same ten the analytics-mix
# benchmark cycles through.
_MIX = (
    "agg_pricing_summary",
    "tpch_q9_product_profit",
    "join_asof_backward",
    "window_lag_lead_running",
    "events_sessionize_30m",
    "similarity_topk_ivf",
    "multimodal_image_meta",
    "text_bpe_merges",
    "dedup_minhash_lsh",
    "sample_curriculum_order",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_all(spark, sf_dir) -> None:
    for name in _MIX:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_repeat_queries_reuse_generated_classes(spark, sf_dir):
    """A second pass over the same queries compiles nothing: the codegen
    class cache holds the first pass's classes. With Spark's default
    100-entry LRU these ten entries (~250 classes) recompile every one."""
    _run_all(spark, sf_dir)
    before = _compiles(spark)
    _run_all(spark, sf_dir)
    assert _compiles(spark) - before == 0
