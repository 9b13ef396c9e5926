import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    # Python workers import qurio_spark through PYTHONPATH, whatever the
    # launch directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from qurio_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
