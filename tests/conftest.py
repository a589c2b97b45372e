from __future__ import annotations

import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

from sparkstreaming_realtime_spark import TABLES
from sparkstreaming_realtime_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


def pytest_configure(config):
    # a worker thread wrapped without the session drops the caller's
    # job tags (tag-based cancellation misses its jobs); fail instead
    config.addinivalue_line(
        "filterwarnings",
        r"error:Spark session is not provided\. Tags will not be "
        r"inherited\.:UserWarning",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
