import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    from irivermetrics_spark.session import get_spark

    s = get_spark("irm-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def kept_map(result) -> dict:
    """scene -> sorted ISO kept dates, from a pipeline result's ``kept`` frame."""
    out: dict = {}
    for r in result["kept"].collect():
        out.setdefault(r["scene"], []).append(r["date"].isoformat())
    return {scene: sorted(dates) for scene, dates in out.items()}
