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
