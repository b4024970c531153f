import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from veranda_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    cores = min(8, len(os.sched_getaffinity(0)))
    s = get_spark(master=f"local[{cores}]", app_name="veranda_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()
