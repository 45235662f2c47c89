import os
import subprocess
import sys

import pytest

from usgs_geomag_algorithms_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_HOLD_LOCK = """
import sys, time
from usgs_geomag_algorithms_spark.functions.filelock import commit_lock
with commit_lock(sys.argv[1], 0.0, RuntimeError):
    print("held", flush=True)
    time.sleep(600)
"""


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=4, shuffle_partitions=4)
    yield s


def long_rows(spark, rows, schema="url string, channel string, t_us long, value double"):
    return spark.createDataFrame(rows, schema=schema)


@pytest.fixture
def lock_holder():
    """``lock_holder(base)`` starts a plain-Python child that holds the
    commit lock of directory ``base`` until it is killed, and returns its
    Popen. Children still alive at teardown are SIGKILLed."""
    procs = []

    def start(base):
        p = subprocess.Popen(
            [sys.executable, "-c", _HOLD_LOCK, base],
            cwd=REPO,
            env={**os.environ, "PYTHONPATH": REPO},
            stdout=subprocess.PIPE,
            text=True,
        )
        procs.append(p)
        assert p.stdout.readline().strip() == "held"
        return p

    yield start
    for p in procs:
        if p.poll() is None:
            p.kill()
            p.wait(10)
