from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # the tools' 4g heap: at the engine's 12g default the JVM
    # grows toward its cap and a test run took 13.7 GB of RSS
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    from vmware_graph_spark.session import get_spark

    yield get_spark("vmware-graph-spark-tests")
