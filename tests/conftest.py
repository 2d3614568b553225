import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from skyline_spark.session import get_spark

    # cores default to the host's (SPARK_GRAFT_CPUS or the CPU affinity)
    spark = get_spark("skyline-spark-tests", shuffle_partitions=8)
    yield spark
    spark.stop()
