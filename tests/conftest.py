import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_stuff_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="hadoop-stuff-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def no_streaming_query_left():
    """A test must end every streaming query it starts: one left running
    keeps firing batches beside the tests that follow. Such queries are
    stopped here and the test fails, naming them."""
    yield
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    left = session.streams.active if session is not None else []
    for q in left:
        q.stop()
    if left:
        pytest.fail(
            "test left streaming queries running: "
            + ", ".join(q.name or str(q.id) for q in left)
        )

