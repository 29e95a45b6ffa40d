"""CPU time and peak RSS of this process and all its descendants, from /proc.

The benchmark's driver process starts the Spark JVM, which starts the
Python worker daemon and its workers, so the whole engine is one process
tree rooted here. Only the standard library is used.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    fields = data[data.rindex(b")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def _tree(root: int) -> dict:
    """pid -> cpu seconds for ``root`` and every live descendant."""
    parent: dict = {}
    cpu: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            parent[int(name)], cpu[int(name)] = st
    keep = {root}
    changed = True
    while changed:
        changed = False
        for pid, ppid in parent.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                changed = True
    return {pid: cpu[pid] for pid in keep if pid in cpu}


def tree_cpu_s(root: int | None = None) -> float:
    """Total CPU seconds used so far by the tree under ``root``."""
    return sum(_tree(root or os.getpid()).values())


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples each tree process's peak RSS (VmHWM) in a background thread;
    ``mb`` is the sum over every process seen of its largest sample."""

    def __init__(self, interval_s: float = 0.25):
        self._interval = interval_s
        self._peak: dict = {}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        for pid in _tree(os.getpid()):
            kb = _hwm_kb(pid)
            with self._lock:
                if kb > self._peak.get(pid, 0):
                    self._peak[pid] = kb

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def mb(self) -> float:
        self._sample()
        with self._lock:
            return sum(self._peak.values()) / 1024.0
