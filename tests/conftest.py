from __future__ import annotations

import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# the fixture table (sweep.AXES, sweep.ensure) and the harness-variant
# sweep helpers the tiers share
sys.path.insert(0, os.path.join(_REPO, "scripts"))

from ndl_core_data_pipeline_spark.session import get_spark
from ndl_core_data_pipeline_spark.streaming.protoshim import (
    ensure_protobuf_env,
)

# transformWithStateInPandas spawns a DRIVER-side python worker whose
# sys.path comes from the JVM's PYTHONPATH env var — addPyFile never
# reaches it. Exporting the shim path here, at conftest import (before
# any SparkSession and therefore before the JVM starts), covers every
# python process the JVM will launch. No-op when the real protobuf
# runtime is installed.
ensure_protobuf_env()

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_MEDIUM = os.environ.get("SPARK_GRAFT_SF_MEDIUM", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    s = get_spark(app_name="ndlspark-tests", cpus=cpus, shuffle_partitions=cpus)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium():
    return SF_MEDIUM
