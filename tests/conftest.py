from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Before ANY SparkSession exists: if the protobuf wheel is absent but a
# vendored pure-python runtime is on the host, expose it to Spark's Python
# workers via a sitecustomize shim on PYTHONPATH (transformWithStateInPandas
# needs it; see tests/_protobuf_compat.py).  No-op when the wheel is real.
from tests._protobuf_compat import install_worker_shim

install_worker_shim()

from google_analytics_dataframes_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
