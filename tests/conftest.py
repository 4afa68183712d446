import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_cdc_hudi_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(app_name="tests", shuffle_partitions=4)
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def settled_job_ids(spark) -> set[int]:
    """Ids of the jobs the status tracker holds, read once the listener
    bus has delivered every pending event (the tracker lags the jobs)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
