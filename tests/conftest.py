"""Shared fixtures: one SparkSession per test session, DuckDB oracle conn."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyblazing_spark.session import get_spark

    spark = get_spark(app_name="pyblazing_spark-tests", master="local[8]")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con():
    """DuckDB connection with the same tables registered as views,
    mirroring the driver's correctness harness."""
    from tests.oracle_utils import oracle_connection

    con = oracle_connection(SF_DIR)
    yield con
    con.close()
