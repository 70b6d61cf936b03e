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
def session_conf(spark):
    """Set keys on the shared session for one test:
    ``session_conf({"spark.sql.ansi.enabled": "false"})``. Each key's prior
    value is restored afterwards."""
    prior: dict[str, str] = {}

    def apply(conf: dict[str, str]):
        for key, value in conf.items():
            prior.setdefault(key, spark.conf.get(key))
            spark.conf.set(key, value)

    yield apply
    for key, value in prior.items():
        spark.conf.set(key, value)
