"""The benchmark's process tree from /proc: this process and every
process below it (the Python driver, the JVM, the Python workers)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name: [0] is the
    state, [1] the parent pid, [11:15] utime, stime, cutime, cstime."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree() -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_stat(d)[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += [c for c, pp in parent.items() if pp == p]
    return out


def rss_kb(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                total += next((int(line.split()[1]) for line in f
                               if line.startswith("VmRSS:")), 0)
        except OSError:
            pass
    return total


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU time of `pids`, counting reaped children
    (a Python worker that exits is charged to its parent)."""
    ticks = 0
    for p in pids:
        try:
            ticks += sum(int(x) for x in _stat(p)[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / _TICK


def is_running(pid: int) -> bool:
    try:
        return _stat(pid)[0] != "Z"
    except OSError:
        return False
