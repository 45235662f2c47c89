"""The kernel-held commit lock (functions/filelock.py), without Spark:
mutual exclusion across processes, queueing, and release on SIGKILL."""

import os
import subprocess
import sys
import threading
import time

import pytest

from usgs_geomag_algorithms_spark.functions.filelock import (
    LOCK_NAME,
    commit_lock,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One writer: ``n`` read-sleep-write increments of a counter file, each
# under the lock, logging "<value>" per increment. With ``hang`` it
# prints "held" on its (n+1)-th acquisition, after reading the counter,
# and sleeps there until killed: a writer dying mid-commit.
WRITER = """
import sys, time
from usgs_geomag_algorithms_spark.functions.filelock import commit_lock
base, n, hang = sys.argv[1], int(sys.argv[2]), sys.argv[3] == "1"
for i in range(n + hang):
    with commit_lock(base, 60.0, RuntimeError):
        with open(base + "/counter", "r+") as f:
            v = int(f.read() or 0)
            if i == n:
                print("held", flush=True)
                time.sleep(600)
            time.sleep(0.001)  # widen the lost-update window
            f.seek(0)
            f.truncate()
            f.write(str(v + 1))
        with open(base + "/log", "a") as f:
            f.write(f"{v + 1}\\n")
"""


def _writer(base, n, hang=False):
    return subprocess.Popen(
        [sys.executable, "-c", WRITER, base, str(n), "1" if hang else "0"],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        stdout=subprocess.PIPE,
        text=True,
    )


class TestCommitLock:
    def test_sigkilled_holder_leaves_no_lost_or_torn_update(self, tmp_path):
        base = str(tmp_path)
        open(os.path.join(base, "counter"), "w").close()
        victim = _writer(base, 5, hang=True)
        assert victim.stdout.readline().strip() == "held"
        rest = [_writer(base, 25) for _ in range(7)]
        try:
            time.sleep(0.5)
            # the victim holds the lock: nobody else has moved the counter
            with open(os.path.join(base, "counter")) as f:
                assert f.read() == "5"
            victim.kill()  # SIGKILL while it holds the lock
            victim.wait(10)
            for p in rest:
                assert p.wait(60) == 0
        finally:
            for p in [victim, *rest]:
                if p.poll() is None:
                    p.kill()
                    p.wait(10)
        with open(os.path.join(base, "counter")) as f:
            assert f.read() == str(5 + 7 * 25)
        with open(os.path.join(base, "log")) as f:
            log = [int(x) for x in f.read().split()]
        # every increment saw the one before it: a linearizable history
        assert log == list(range(1, 5 + 7 * 25 + 1))
        assert os.path.exists(os.path.join(base, LOCK_NAME))

    def test_same_process_second_open_is_excluded(self, tmp_path):
        base = str(tmp_path)
        with commit_lock(base, 0.0, RuntimeError):
            with pytest.raises(RuntimeError, match="is held"):
                with commit_lock(base, 0.1, RuntimeError):
                    pass
        with commit_lock(base, 0.0, RuntimeError):
            pass  # released on exit

    def test_waiter_queues_until_release(self, tmp_path):
        base = str(tmp_path)
        held, release = threading.Event(), threading.Event()

        def holder():
            with commit_lock(base, 0.0, RuntimeError):
                held.set()
                release.wait(10)

        t = threading.Thread(target=holder)
        t.start()
        held.wait(10)
        threading.Timer(0.3, release.set).start()
        t0 = time.monotonic()
        with commit_lock(base, 10.0, RuntimeError):
            waited = time.monotonic() - t0
        t.join()
        assert waited >= 0.25
