from __future__ import annotations

import pytest

from data_prepper_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, shuffle_partitions=8, app_name="dps-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def executed_plans(spark):
    """-> run(fn) = (fn(), the physical plans of the SQL executions fn
    started, read from Spark's status store). Driver-literal top-k
    calls run their scatter inside the call and return a LocalRelation,
    so a plan guard has to read the plan that ran, not the returned
    DataFrame's."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        lst = store.executionsList()
        return {int(lst.apply(i).executionId()): lst.apply(i)
                for i in range(lst.size())}

    def run(fn):
        bus.waitUntilEmpty()
        before = set(executions())
        out = fn()
        bus.waitUntilEmpty()
        return out, "\n".join(e.physicalPlanDescription()
                              for i, e in sorted(executions().items())
                              if i not in before)

    return run
