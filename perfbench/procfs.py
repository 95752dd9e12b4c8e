"""Process accounting from ``/proc``: the JVM behind the Spark session,
its CPU seconds (with the Python workers it forks) and its peak RSS."""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'.
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def find_jvm(parent: int | None = None) -> int | None:
    """The ``java`` process launched under this Python process."""
    for pid in descendants(parent or os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def tree_cpu_s(pid: int) -> float:
    """utime+stime of ``pid`` and every live descendant, plus the CPU of
    descendants already reaped into their parents (cutime+cstime)."""
    total = 0
    for p in [pid, *descendants(pid)]:
        st = _stat(p)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def python_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def python_maxrss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    st = _stat(os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    import time

    boot = time.time() - uptime
    return boot + int(st[19]) / _TICK
