import os
import sys
import tempfile
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Put the test temp root on tmpfs: every structured-streaming micro-batch
# fsyncs its offset/commit/state files under tmp_path, and with a
# disk-backed /tmp that fsync wall was a large slice of the suite. An
# explicit TMPDIR from the caller still wins. tmpfs pages are host memory,
# and a finished run's basetemp stays there until pytest's rotation (keeps
# 3) removes it, so the redirect is made only while /dev/shm has at least
# SHM_MIN_FREE_BYTES free; otherwise the default temp dir is used.
SHM_MIN_FREE_BYTES = 2 << 30


def _shm_free_bytes() -> int:
    st = os.statvfs("/dev/shm")
    return st.f_bavail * st.f_frsize


if (
    os.path.isdir("/dev/shm")
    and "TMPDIR" not in os.environ
    and _shm_free_bytes() >= SHM_MIN_FREE_BYTES
):
    _shm_tmp = "/dev/shm/pytest_tmp"
    os.makedirs(_shm_tmp, exist_ok=True)
    os.environ["TMPDIR"] = _shm_tmp
    tempfile.tempdir = _shm_tmp

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from clickhouse_provider_spark.session import get_spark

    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck(request):
    from tools.parity import make_duckdb

    return make_duckdb(ORACLE_SF_DIR)


@pytest.fixture(scope="session")
def tables(spark):
    from clickhouse_provider_spark.session import load_tables

    return load_tables(spark, ORACLE_SF_DIR)
