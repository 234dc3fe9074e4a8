from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from google_analytics_dataframes_spark.io import TESTDATA_DIR
from google_analytics_dataframes_spark.session import get_spark

SF_DIR = os.path.join(TESTDATA_DIR, "sf0.001")


def small_env(**extra: str) -> dict:
    """Environment for a child Spark driver: two cores, a small heap."""
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS="2", SPARK_GRAFT_SHUFFLE="4", SPARK_GRAFT_DRIVER_MEM="1g"
    )
    env.update(extra)
    return env


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
