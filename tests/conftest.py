"""Shared fixtures.

Mirrors the reference's fixture strategy (tests/conftest.py:14-170): a
100-row sample frame (id 1..100, category A-E, value 100..199, name item_i),
a small frame, a frame with nulls — plus the driver-provided TPC-H-ish
parquet dirs for differential tests.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from mini_etl_spark.session import get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "quick: oracle, plan-shape and bench-contract checks (pytest -m quick)",
    )


@pytest.fixture(scope="session")
def spark():
    # get_spark's default 32g heap exceeds small boxes' RAM: the heap then
    # outgrows memory before G1 collects, and the OOM killer takes the JVM.
    # The suite's inputs are tiny, so 4g is plenty. Dead broadcast,
    # checkpoint and shuffle blocks are freed only after a driver GC, so
    # the cleaner forces one every 30 s across the ~1000-test session.
    session = get_spark(
        "mini-etl-spark-tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.cleaner.periodicGC.interval": "30s",
        },
    )
    yield session


@pytest.fixture(scope="session")
def sample_pdf() -> pd.DataFrame:
    """⇐ reference sample_df (tests/conftest.py:14-22)."""
    return pd.DataFrame(
        {
            "id": range(1, 101),
            "category": [["A", "B", "C", "D", "E"][i % 5] for i in range(100)],
            "value": range(100, 200),
            "name": [f"item_{i}" for i in range(1, 101)],
        }
    )


@pytest.fixture(scope="session")
def sample_df(spark, sample_pdf):
    return spark.createDataFrame(sample_pdf)


@pytest.fixture(scope="session")
def nulls_df(spark):
    """⇐ reference df_with_nulls (tests/conftest.py:35-42)."""
    pdf = pd.DataFrame(
        {
            "id": [1.0, 2.0, None, 4.0, 5.0],
            "value": [10.0, None, 30.0, None, 50.0],
            "name": ["a", "b", None, "d", "e"],
        }
    )
    return spark.createDataFrame(pdf)
