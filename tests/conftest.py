import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tosidewalk_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # no heap here: get_spark's host-fit default (or SPARK_GRAFT_DRIVER_MEM)
    # sizes the driver, so the suite fits hosts smaller than 16g
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()
