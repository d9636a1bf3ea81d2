"""Process-tree and host counters read from ``/proc``.

The tree is this Python process, the JVM it launches and the JVM's Python
worker processes.  CPU of a reaped child is folded into its parent's
``cutime``/``cstime``, so summing all four fields over the live tree
counts every process once."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while we looked
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_stats() -> dict[str, list[str]]:
    """``pid -> stat fields`` of this process and all its descendants."""
    stats, children = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (f := _stat_fields(pid)) is not None:
            stats[pid] = f
            children.setdefault(f[1], []).append(pid)
    out, todo = {}, [str(os.getpid())]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """utime+stime (+ reaped children's) of the process tree, in seconds."""
    # fields after ')': state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return sum(sum(int(x) for x in f[11:15]) for f in tree_stats().values()) / _TICK


def tree_pss_mb() -> float:
    """Proportional set size of the tree: a page shared by n processes
    counts 1/n in each, so the pages the Python workers share with the
    daemon they were forked from count once, not once per worker."""
    kb = 0
    for pid in tree_stats():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):  # the process ended while we looked
            pass
    return kb / 1024


def host_steal_s() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK


def host_loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class PssSampler:
    """Samples the tree's total PSS every :attr:`INTERVAL_S` on a thread
    between ``start()`` and ``stop()``; ``peak_mb`` is the largest sample.
    One sample reads the JVM's ``smaps_rollup`` in about 10 ms."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            if self._stop.wait(self.INTERVAL_S):
                return

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
