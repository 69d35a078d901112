import os

import pytest

from harvesttext_spark.session import get_spark

# The suite's JVMs run at the 2g heap perfbench runs the job at, not
# get_spark's 8g plain-Python default: job subprocesses copy os.environ,
# so a test that starts one holds two JVMs at once, and two 8g heaps that
# grow lazily do not fit beside each other on a 15 GB host.
os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="harvesttext_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
