"""Process-tree CPU time and peak memory from ``/proc`` (Linux only).

The tree is this process plus every descendant: in the Spark workloads
that is this Python process, the JVM it launched and the Python workers
the JVM forks. CPU counts each process's user + system time plus the
time of children it has already reaped, so a worker that exits inside a
measured window still counts. Peak memory is the sum of each live
process's peak resident set (``VmHWM``).
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None
    when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the
    # last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, reaped children
    included (utime + stime + cutime + cstime)."""
    ticks = 0
    for pid in descendants():
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak RSS, MiB."""
    kib = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return kib / 1024


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait until every pid has exited; SIGKILL whatever outlives the
    timeout, then wait for that too."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in left):
        time.sleep(0.05)
