"""One commit lock for every on-disk store: a kernel ``flock``.

``commit_lock(base, wait_s, error)`` opens ``<base>/_commit.lock`` and
takes ``fcntl.flock(LOCK_EX)`` on it for the duration of the ``with``
block. The kernel holds the lock on the open file description, so:

- a holder that dies (SIGKILL, OOM, power loss of the process) releases
  it the moment its descriptors close; there is no pid file, no TTL and
  no staleness check, hence no check-then-unlink race between waiters;
- a second ``open()`` of the same file, even in the same process or
  thread pool, gets its own description and queues like any other
  writer.

The file itself stays on disk for good. Unlinking it would let a waiter
that already opened the old inode lock a file nobody else can reach,
while a newcomer locks a fresh inode: two holders at once. Never delete
it by hand either.

A waiter polls with ``LOCK_NB`` until ``wait_s`` runs out, then raises
the caller's ``error`` type (``wait_s=0`` fails on the first miss).
Same-host semantics: ``flock`` is not a distributed lock.
"""

from __future__ import annotations

import fcntl
import os
import time
from contextlib import contextmanager

LOCK_NAME = "_commit.lock"
_POLL_S = 0.05


@contextmanager
def commit_lock(base: str, wait_s: float, error: type[Exception]):
    """Hold the exclusive commit lock of directory ``base``."""
    path = os.path.join(base, LOCK_NAME)
    fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o644)
    try:
        deadline = time.monotonic() + wait_s
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() >= deadline:
                    raise error(
                        f"commit lock {path} is held by another writer"
                        f" (waited {wait_s:g} s)"
                    ) from None
                time.sleep(_POLL_S)
        yield
    finally:
        os.close(fd)  # closing the description drops the flock
