"""CPU time and peak memory of a whole process tree, read from ``/proc``.

Spark's task CPU counts only JVM executor threads; it misses the Python
driver, the JVM's own threads (JIT, GC, scheduler) and the Python UDF
workers the JVM forks. The benchmark therefore charges each operation the
CPU of the driver process and every descendant: user + system time of the
live processes plus the time of children they already reaped.

A worker that exits between two samples is still counted exactly once: at
the first sample it contributes its own utime/stime, at the second the same
time (plus what it used since) shows up in its parent's cutime/cstime.
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited while we walked /proc
        return None
    # comm (field 2) may contain spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """Stat fields of ``root`` and all its live descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(name)
        if fields is None:
            continue
        pid = int(name)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)  # field 4: ppid
    out: dict[int, list[str]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """Cumulative CPU seconds of ``root`` (default: this process) and its
    descendants, including children they reaped."""
    total = 0
    for fields in _tree(root or os.getpid()).values():
        # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
        total += sum(int(x) for x in fields[11:15])
    return total / _TICKS


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the tree of each live process's peak resident set (VmHWM)."""
    kb = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def process_age_s(pid: int | None = None) -> float:
    """Seconds since ``pid`` (default: this process) started."""
    fields = _stat_fields(str(pid or os.getpid()))
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / _TICKS  # field 22: starttime
