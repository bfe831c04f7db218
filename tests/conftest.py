from __future__ import annotations

import os

import pytest

from trace_parquet_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    # plan-shape tests assert on PushedFilters contents; the default
    # 100-char metadata truncation would hide filters behind "..."
    s.conf.set("spark.sql.maxMetadataStringLength", "2000")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
