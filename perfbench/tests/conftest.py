import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (os.path.dirname(BENCH), os.environ.get("PYTHONPATH")) if p)


@pytest.fixture(scope="session")
def spark():
    from kgraphmemory_spark.session import get_spark
    s = get_spark(app="perfbench-tests", cores=2, shuffle_partitions=4,
                  extra={"spark.driver.memory": "2g"})
    yield s
    s.stop()
