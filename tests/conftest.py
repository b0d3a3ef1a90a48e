import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM small
# The session default heap (16g) can exceed a small host's RAM; the suite's
# live set is far smaller, and an unbounded heap lets the JVM grow until the
# host kills it mid-suite.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")


@pytest.fixture(scope="session")
def spark():
    from kafka2delta_spark.session import build_session

    s = build_session("kafka2delta_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
