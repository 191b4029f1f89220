"""Process-tree and host readings from /proc (Linux only).

The benchmark's CPU and memory figures cover the whole tree a run
starts: the benchmark's Python driver, the JVM it launches and the
Python workers the JVM forks.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after its ')' is fixed.
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def session_pids(sid: int) -> list[int]:
    """Live (not zombie) members of session ``sid``, whatever process
    group they moved to (PySpark's worker daemon starts its own)."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None and fields[0] != "Z" and int(fields[3]) == sid:
                out.append(int(name))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the tree: user + system time of every
    live member plus that of the children each has already reaped."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat.
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    """Sum of resident set sizes over the tree (shared pages count once
    per process, as ``ps`` reports them)."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = fields[:8]
    return user + nice + system + irq + softirq, steal


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Contention:
    """Host readings over a window, so a reader can tell a contended run:
    load average, steal time, and CPU used by processes outside the
    measured tree."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.load1_start = load1()
        self._busy0, self._steal0 = host_cpu_ticks()
        self._tree0 = tree_cpu_s(root)

    def finish(self) -> dict[str, float]:
        busy, steal = host_cpu_ticks()
        tree = tree_cpu_s(self.root) - self._tree0
        return {
            "load1_start": self.load1_start,
            "load1_end": load1(),
            "steal_s": (steal - self._steal0) / _TICK,
            "other_cpu_s": max(0.0, (busy - self._busy0) / _TICK - tree),
        }
