from __future__ import annotations

import os
import sys

import pytest

# The checkout this conftest lives in, so a clone tests its own package
# and tools rather than whichever copy happens to be installed.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "tools")]

from live_market_data_orderflow_analysis_big_data_project__spark import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
