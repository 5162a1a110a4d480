import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from supermusr_data_pipeline_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("supermusr-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_T2 = "/root/testdata/sf0.01"
