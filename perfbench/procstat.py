"""CPU time and proportional memory (PSS) of this process and its descendants.

Read from ``/proc``. In ``local[N]`` mode the tree is the driver (this
process), the JVM that spark-submit starts, and the Python daemon and
workers the JVM forks, so one tree covers every process the run uses.
"""

from __future__ import annotations

import os
import threading

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    # Fields after "(comm)": state, ppid, ..., utime is index 11.
    return stat[stat.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        for kid in children.get(stack.pop(), []):
            out.append(kid)
            stack.append(kid)
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included.

    A process that exits between two readings is counted through its
    parent's cutime/cstime once reaped, so a difference of two readings
    covers short-lived workers too."""
    total = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _HZ


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot. Steal is
    the time the hypervisor ran someone else on this machine's CPUs."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tree_pss_mb(root: int) -> float:
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PeakPss:
    """Samples the tree's PSS on a background thread; ``peak_mb`` is the
    largest sample taken between ``start()`` and ``stop()``.

    One sample walks the page tables of every process (about 40-70 ms for
    the JVM on the reference host) and contends with its page faults, so
    sampling stays at one per second."""

    def __init__(self, root: int, interval_s: float = 1.0):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PeakPss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb

