from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from druid_datafusion_bridge_spark import get_spark

from .oracle_harness import make_duck

# sf0.001 keeps the pytest loop fast; test_oracle_sf001 runs everything,
# and the driver's own gate runs at sf0.01 (covered by `pytest -m sf01`).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    s = get_spark(app_name="ddbs-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    return make_duck(SF_DIR)


@pytest.fixture(scope="session")
def duck01():
    return make_duck(SF01_DIR)
