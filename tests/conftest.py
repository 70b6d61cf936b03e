import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_quality_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="dq-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA


@pytest.fixture
def ansi_on(spark):
    """The shared session with spark.sql.ansi.enabled=true for one test
    (get_spark turns ANSI off); the prior value is restored afterwards."""
    key = "spark.sql.ansi.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        yield spark
    finally:
        spark.conf.set(key, prior)
