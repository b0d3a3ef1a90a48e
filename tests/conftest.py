import glob
import os
import shutil

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM small
# The session default heap follows the host's RAM (half of it, at most 16g);
# pinning it keeps the suite's JVM the same on every host. The suite's live
# heap stays near 2 GB.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")


@pytest.fixture(scope="session", autouse=True)
def _remove_run_split_dirs(tmp_path_factory):
    """Remove, at session end, the events split dirs built for fixtures
    under this run's basetemp: they are keyed on paths no later run
    reuses. Splits of shared data dirs stay as a cross-process cache."""
    yield
    from kafka2delta_spark.streaming.stateful import _split_prefix

    base = _split_prefix(str(tmp_path_factory.getbasetemp()))
    for d in glob.glob(glob.escape(base) + "_*"):
        shutil.rmtree(d, ignore_errors=True)


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
