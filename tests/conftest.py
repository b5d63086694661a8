"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ra2_datalake_linaresjoan_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ra2_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def empty_sf(spark, tmp_path_factory):
    """The sf0.001 tables with every row dropped: same files and schemas,
    zero rows — the degenerate partition every 100-TB job eventually meets."""
    d = tmp_path_factory.mktemp("empty_sf")
    for f in os.listdir(SF_SMOKE):
        if f.endswith(".parquet"):
            df = spark.read.parquet(os.path.join(SF_SMOKE, f))
            df.limit(0).write.mode("overwrite").parquet(str(d / f))
    return str(d)
