"""Processor time of the program, read from ``/proc``.

The program is this process, the driver JVM it starts and the Python
workers the JVM starts, so its CPU time is that of this process and every
live descendant (children already reaped count through their parent's
``cutime``). The share of the JVM's JIT compiler threads is read as well:
they compile code once per JVM, so how much of it lands in a timed pass
depends on how far the warm-up got.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1:raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def tree_cpu_s(root_pid: int) -> float:
    """User + system seconds of ``root_pid`` and all its live descendants."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _stat_fields(f"/proc/{name}/stat")
        if stat is None:
            continue
        fields = stat[1]
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root_pid:
            p = parent.get(p, 0)
        total += t if p == root_pid else 0
    return total / TICK


def jit_thread_ticks(jvm_pid: int) -> dict[tuple[int, int], int]:
    """(thread id, start time) -> user + system ticks of the JVM's live JIT
    compiler threads."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        stat = _stat_fields(f"/proc/{jvm_pid}/task/{tid}/stat")
        if stat is not None and "CompilerThre" in stat[0]:
            out[int(tid), int(stat[1][19])] = int(stat[1][11]) + int(stat[1][12])
    return out


class Clock:
    """``read()`` -> (program CPU seconds, of which JIT compiler threads).

    The JVM starts and stops compiler threads as its compile queue grows
    and drains; a stopped thread keeps the ticks it was last seen with, so
    the JIT share never runs backwards."""

    def __init__(self, jvm_pid: int) -> None:
        self.root, self.jvm_pid = os.getpid(), jvm_pid
        self.jit_seen: dict[tuple[int, int], int] = {}

    def read(self) -> tuple[float, float]:
        self.jit_seen.update(jit_thread_ticks(self.jvm_pid))
        return tree_cpu_s(self.root), sum(self.jit_seen.values()) / TICK
