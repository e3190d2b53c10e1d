import os
import sys

import pytest

# the checkout this file lives in — first on the driver's sys.path and on
# PYTHONPATH, which Spark's Python workers inherit, so a test run in any
# copy of the repo imports that copy's code on both sides
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
              if p and p != ROOT])


@pytest.fixture(scope="session")
def spark():
    from kgraphmemory_spark.session import get_spark
    s = get_spark(app="kgm-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()
