import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]
os.environ["PYTHONPATH"] = ROOT + (os.pathsep + os.environ["PYTHONPATH"]
                                   if os.environ.get("PYTHONPATH") else "")
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")


@pytest.fixture(scope="session")
def spark():
    from linkgraph.session import get_spark

    s = get_spark("linkbench-tests", shuffle_partitions=4)
    yield s
    s.stop()
