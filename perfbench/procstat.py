"""Processes, CPU time and resident memory of a process tree, from ``/proc``.

CPU time is ``utime + stime + cutime + cstime`` summed over the live tree: a
child that exits is folded into its parent's ``cutime`` once reaped, so
short-lived workers are still counted. ``ProcTreeSampler`` polls the tree on
a background thread; RSS is the sum over the live tree at each sample and
the peak is the largest sum seen.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, float, int] | None:
    """(state, ppid, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return fields[0], int(fields[1]), cpu, int(fields[21]) * _PAGE


def snapshot() -> dict[int, tuple[str, int, float, int]]:
    """Every live process: pid -> (state, ppid, cpu seconds, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, stats: dict | None = None) -> list[int]:
    """``root`` and every live process below it, root first."""
    stats = snapshot() if stats is None else stats
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int, stats: dict | None = None) -> tuple[float, int]:
    """(cpu seconds, rss bytes) of ``root`` and all its descendants."""
    stats = snapshot() if stats is None else stats
    tree = descendants(root, stats)
    return sum(stats[p][2] for p in tree), sum(stats[p][3] for p in tree)


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


class ProcTreeSampler:
    """Samples the tree below this process every 0.1 s between ``start()``
    and ``stop()``; ``cpu_s`` and ``peak_rss_mb`` cover that span."""

    interval = 0.1

    def __init__(self) -> None:
        self.root = os.getpid()
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0
        self._cpu0 = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> float:
        cpu, rss = tree_usage(self.root)
        self.peak_rss_mb = max(self.peak_rss_mb, rss / 2**20)
        return cpu

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "ProcTreeSampler":
        self._cpu0 = self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> "ProcTreeSampler":
        self._stop.set()
        self._thread.join()
        self.cpu_s = self._sample() - self._cpu0
        return self
