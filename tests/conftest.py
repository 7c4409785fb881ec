from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clv_data_pipeline_spark.session import get_spark

TESTDATA = "/root/testdata"
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")


def jobs_during(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it started."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-during-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def plans_during(spark, fn, window=500):
    """Run ``fn``; return its result and the final physical plan text of
    every SQL execution it started, read from the SQL status store
    (which the session keeps with or without the UI).  ``window`` bounds
    how many of the store's latest executions are searched."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def latest():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n = store.executionsCount()
        seq = store.executionsList(max(n - window, 0), window)
        return [seq.apply(i) for i in range(seq.size())]

    before = max((e.executionId() for e in latest()), default=-1)
    out = fn()
    plans = [
        e.physicalPlanDescription()
        for e in latest()
        if e.executionId() > before
    ]
    assert len(plans) < window, "raise window: executions may be missing"
    return out, plans


@pytest.fixture(scope="session")
def spark():
    # local[8] (round 13): the suite must finish inside the driver's
    # verify window (VERDICT r12 item 2b); the sf0.001/sf0.01 fixtures
    # parallelize cleanly and every comparison is content-based, so
    # doubling the slots halves the scan/shuffle-bound tests' wall
    # time without touching what is tested.
    s = get_spark(
        app_name="clv-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield s
