from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from zylyty_data_engineer_challenge_spark.catalog import (  # noqa: E402
    point_artifact_roots,
)
from zylyty_data_engineer_challenge_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pytest", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def artifact_roots(spark, tmp_path):
    """Every durable-artifact root under ``tmp_path/artifacts``, one
    subdirectory per root name; the confs are unset after the test."""
    base = tmp_path / "artifacts"
    point_artifact_roots(spark, str(base))
    yield base
    point_artifact_roots(spark, None)
