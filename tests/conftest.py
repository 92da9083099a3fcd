import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from forklift_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="forklift-tests",
        cores=int(os.environ.get("SPARK_TEST_CORES", "4")),
        shuffle_partitions=8,
        driver_memory="4g",
    )
    yield s


@pytest.fixture(scope="session")
def sf_tiny():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf_small():
    return os.path.join(TESTDATA, "sf0.01")
