import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: a long-running test (e.g. a spark-submit run)")


@pytest.fixture(scope="session")
def spark():
    from dint_spark.session import get_spark

    s = get_spark(app_name="dint_spark_tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
