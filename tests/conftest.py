from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_project_gcp_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session", autouse=True)
def _artifact_cache_dir(tmp_path_factory):
    """Artifact entries build into a per-session directory, never into
    the user's cache (~/.cache/etl_gcp_spark): every run exercises the
    build path, and a suite run leaves the user's cache as it found it.
    A test that monkeypatches the variable still overrides it."""
    mp = pytest.MonkeyPatch()
    mp.setenv(
        "ETL_GCP_SPARK_CACHE_DIR", str(tmp_path_factory.mktemp("artifacts"))
    )
    yield
    mp.undo()


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="etl_project_gcp_spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf01_dir() -> str:
    return SF_CORRECTNESS


def pytest_configure(config):
    # "slow" = multi-minute scale/stress probes; still part of the
    # default run (the suite is the evidence), deselectable locally
    # with -m "not slow" while iterating.
    config.addinivalue_line(
        "markers", "slow: multi-minute scale/stress probe"
    )
