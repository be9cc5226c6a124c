"""Host-side measurements read from ``/proc``: CPU seconds and resident
memory of this process tree (the Spark driver, the JVM it launched and the
JVM's Python workers), host-wide busy cores and the load average.

The tree is found by parent pid, so it covers every process the benchmark
starts, whatever launched it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            data = f.read()
    except OSError:  # the process ended while the tree was walked
        return None
    # the command name may contain spaces; fields resume after its ')'
    return data[data.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (their time moves to the parent's cutime/cstime when they end, so a
    difference of two readings stays exact)."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident memory of the tree, each page shared between processes
    counted once: the sum of every process's proportional set size. A
    plain RSS sum would count the pages a forked Python worker shares with
    its daemon once per worker."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # ended, or a kernel thread without a map
            pass
    return total


class RssSampler:
    """Background thread sampling the tree's resident memory; ``peak`` is
    the largest sum seen since ``reset``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak = max(self.peak, tree_rss_bytes())

    def reset(self) -> None:
        self.peak = tree_rss_bytes()

    def __enter__(self) -> "RssSampler":
        self.reset()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times() -> tuple[int, int, int]:
    """(total, idle, steal) jiffies over all cores, from ``/proc/stat``.
    Steal is time a virtual machine's cores waited for the host."""
    with open("/proc/stat", encoding="ascii") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0


def busy_cores(before: tuple, after: tuple, field: int = 1) -> float:
    """Cores busy between two ``cpu_times`` readings; with ``field=2``,
    cores whose time was stolen by the host instead."""
    total = after[0] - before[0]
    if total <= 0:
        return 0.0
    part = after[field] - before[field]
    share = (total - part) if field == 1 else part
    return share / total * os.cpu_count()


def loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as f:
        return float(f.read().split()[0])

