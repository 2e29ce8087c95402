import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pq_engine.spark.session import get_spark

    # get_spark's 24g driver default lets the session JVM outgrow a 16 GB
    # host over a full run; perfbench uses 6g too
    os.environ.setdefault("PQ_DRIVER_MEM", "6g")
    s = get_spark(cores=8, app="pq_engine_tests")
    yield s
    s.stop()
