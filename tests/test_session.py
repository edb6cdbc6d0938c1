"""Session settings (session.get_spark) that must survive refactors
because nothing else observes them: a repeated query stream reuses its
generated classes instead of recompiling them."""

from __future__ import annotations

from clickstreamtoclickhouse_spark import plans
from tests.conftest import SF_DIR

#: registered queries whose plans generate about 170 distinct classes
#: together at sf0.001, well over Spark's default 100-entry class cache
CODEGEN_HEAVY = (
    "daily_events",
    "mann_whitney_u",
    "value_quantile_sketch",
    "readability_by_source",
    "oov_rate_by_lang",
    "search_snippets",
)


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_cycle(spark) -> None:
    for q in CODEGEN_HEAVY:
        plans.QUERIES[q](spark, SF_DIR).collect()


def test_repeated_queries_reuse_generated_classes(spark):
    # cycle 1 fills the cache (or finds it warm from earlier tests); a
    # 100-entry LRU cycled by ~170 classes recompiles about 100 of them
    # on every later cycle
    _run_cycle(spark)
    before = _compiles(spark)
    _run_cycle(spark)
    assert _compiles(spark) - before <= 5
