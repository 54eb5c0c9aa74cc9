from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from omnidata_etl_spark.session import get_session

SF_SMOKE = os.environ.get("OMNIDATA_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # The engine's 16g default heap is sized for a dedicated host. On a
    # 16 GB host the suite's test_properties fuzzers drive the heap past
    # the host's memory (64 MB Tungsten pages per aggregate, per task) and
    # the kernel kills the JVM; a 4g heap bounds the execution pool and
    # makes those operators spill instead.
    os.environ.setdefault("OMNIDATA_DRIVER_MEM", "4g")
    spark = get_session("omnidata-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
