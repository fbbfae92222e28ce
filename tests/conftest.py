from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from trading212_etl_spark.session import get_session

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="tests")
    yield s


@pytest.fixture(autouse=True)
def _release_test_pins():
    """A registry build frees only the pins earlier registry builds
    took, so whatever a test caches itself is dropped after it."""
    yield
    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
