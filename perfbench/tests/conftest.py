import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]
# the Spark Python workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


@pytest.fixture(scope="session")
def spark():
    from irivermetrics_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=8)
    yield s
    s.stop()
