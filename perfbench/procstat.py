"""CPU and memory of the Spark process tree, read from ``/proc``.

The tree starts at the gateway JVM (the process ``spark-submit`` execs
into) and includes every descendant: the PySpark daemon and the Python
workers it forks.  The benchmark's own process is the JVM's parent and is
not counted.

CPU is cumulative and never goes backwards: a live process contributes its
own user+sys time plus that of its reaped children (``cutime``/``cstime``),
and a child that exits is reaped into its parent's counters, so summing
over the live tree counts every process exactly once.

Resident memory has no such counter for a tree, so a background thread
samples it and keeps the peak.  It sums each process's PSS (proportional
set size), not its RSS: forked processes share pages copy-on-write (the
Python workers with their daemon, and the JVM with every child it forks
before that child execs a command), and summed RSS would count a shared
page once per process — a JVM mid-fork alone doubled the sampled peak.
Summed PSS counts every resident page of the tree exactly once.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Cpu:
    jvm_s: float
    py_s: float

    def __sub__(self, other: "Cpu") -> "Cpu":
        return Cpu(self.jvm_s - other.jvm_s, self.py_s - other.py_s)

    @property
    def total_s(self) -> float:
        return self.jvm_s + self.py_s


def _read_stat(pid: int):
    """(ppid, own cpu ticks, reaped-children cpu ticks) or None if the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name may hold spaces and parens: fields follow the last ')'
    fields = raw[raw.rfind(b")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    own = int(fields[11]) + int(fields[12])
    children = int(fields[13]) + int(fields[14])
    return ppid, own, children


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def tree_stats(root: int) -> dict[int, tuple]:
    """pid -> stat tuple for ``root`` and all its live descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    if root not in stats:
        return {}
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


class TreeMonitor:
    """Cumulative CPU snapshots and peak resident memory of one process
    tree."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self._peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu(self) -> Cpu:
        stats = tree_stats(self.root)
        jvm = py = 0
        for pid, (_, own, children) in stats.items():
            if pid == self.root:
                jvm += own
                py += children
            else:
                py += own + children
        return Cpu(jvm / _TICK, py / _TICK)

    def resident_bytes(self) -> int:
        return sum(_pss_bytes(pid) for pid in tree_stats(self.root))

    def start_peak(self) -> None:
        """Start sampling the tree's resident memory in the background."""
        self._peak = self.resident_bytes()
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop_peak(self) -> int:
        """Stop sampling; return the peak resident bytes."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._thread = None
        self._peak = max(self._peak, self.resident_bytes())
        return self._peak

    def _sample(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._peak = max(self._peak, self.resident_bytes())


def host_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of every CPU since boot, from /proc/stat:
    time this virtual machine's CPUs waited for the host's."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # guest time is already counted in user and nice
    return ticks[7], sum(ticks[:8])
