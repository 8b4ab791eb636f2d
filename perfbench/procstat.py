"""Process-tree CPU, peak memory and process shutdown, read from /proc.

CPU counts ``utime + stime + cutime + cstime`` of this process and every
live descendant (the Spark JVM and its Python worker daemon), so a
Python worker that exited and was reaped still counts through its
parent's ``cutime``/``cstime``. Peak memory is the kernel's own
high-water mark (``VmHWM``) of this process plus the JVM, not a sampler.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Live descendants of ``root``, parents before children."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` (default: this process) and its live tree."""
    root = os.getpid() if root is None else root
    ticks = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] are utime, stime, cutime, cstime (stat 14-17)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of one process, in MiB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; SIGKILL the ones still alive at
    the deadline. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.05)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_running(p) for p in alive):
        time.sleep(0.05)
    return alive


def _running(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"
