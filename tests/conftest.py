import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from falcon_metrics_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # bound the test JVM's heap: the engine default (16g) lets G1 grow
    # the JVM to most of a 16 GB host over a full run
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE
