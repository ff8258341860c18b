from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the session currently keeps persisted (caches and
    local checkpoints alike)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture(scope="session")
def spark():
    from setsm_postprocessing_python_spark.session import get_spark

    s = get_spark(parallelism=8, app_name="pytest", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def no_broadcast(spark):
    """Pin broadcast off: at 100 TB both join sides are far past any
    broadcast threshold, so tiny-data plan-shape tests must force the
    shuffle-join plan the claim is about (with broadcast on, the planner
    rightly prefers it and disables the bucketed scan as useless)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
