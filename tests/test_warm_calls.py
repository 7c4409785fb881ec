"""Warm calls of the build-heavy queries reuse what earlier calls made.

q_hits, q_ridge and q_scd2_stream run Spark jobs before they return
(fixpoint rounds, a model fit, micro-batch triggers).  A warm call
should pay for those alone: no generated class compiled again (the
session's ``spark.sql.codegen.cache.maxEntries`` holds the mix's
working set) and no parquet schema inferred again
(``sources.io.read_parquet``).  The driver JVM that runs the warm
code compiles it under the local JIT policy of ``session.get_spark``.
"""

from __future__ import annotations

from clv_data_pipeline_spark import registry
from tests.conftest import SF_ORACLE, jobs_during

BUILD_HEAVY = ("q_hits", "q_ridge", "q_scd2_stream")

#: Spark jobs q_hits runs before it returns, on a warm call (its
#: ``ui_brand`` artifact stored), measured on the benchmark's session
#: (local[4], 4 shuffle partitions) and on the test session
HITS_BUILD_JOB_BUDGET = 25


def _compiled(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_driver_jvm_runs_local_jit_policy(spark):
    """The driver JVM was started with the local collector and the
    raised C2 (tier-4) thresholds, not just configured with them."""
    jvm = spark.sparkContext._jvm
    args = set(jvm.java.lang.management.ManagementFactory
               .getRuntimeMXBean().getInputArguments())
    assert {
        "-XX:+UseParallelGC",
        "-XX:Tier4InvocationThreshold=25000",
        "-XX:Tier4MinInvocationThreshold=3000",
        "-XX:Tier4CompileThreshold=75000",
        "-XX:Tier4BackEdgeThreshold=200000",
    } <= args


def test_warm_round_compiles_no_new_class(spark):
    """A second interleaved round of the mix compiles no class: every
    generated class it needs is still in the codegen cache."""
    fns = registry.all_queries()
    for name in BUILD_HEAVY:
        fns[name](spark, SF_ORACLE).count()
    before = _compiled(spark)
    for name in BUILD_HEAVY:
        fns[name](spark, SF_ORACLE).count()
    assert _compiled(spark) - before == 0


def test_hits_build_job_budget(spark):
    """A warm q_hits call runs at most HITS_BUILD_JOB_BUDGET jobs
    before it returns: no schema inference, no brand-total job."""
    q_hits = registry.all_queries()["q_hits"]
    q_hits(spark, SF_ORACLE)  # stores the ui_brand artifact if missing
    _, jobs = jobs_during(spark, lambda: q_hits(spark, SF_ORACLE))
    assert 0 < jobs <= HITS_BUILD_JOB_BUDGET, jobs
