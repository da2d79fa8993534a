from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xarray_beam_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def build_spark():
    return get_spark("xbs-tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))


@pytest.fixture(scope="session")
def spark():
    yield build_spark()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
