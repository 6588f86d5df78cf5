"""Host readings from /proc: peak RSS of this process tree, load average and
CPU steal around a run. ``psutil`` is not available, so the tree is walked
from /proc/<pid>/stat parent links."""

from __future__ import annotations

import os
import threading

from bench import _cpu_jiffies, steal_fraction  # noqa: F401  (re-exported)

SAMPLE_INTERVAL_S = 0.2


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we looked
            continue
        # the command name may hold spaces; fields after it are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and its descendants, each process counted
    by its proportional share (PSS): pages a forked child still shares with
    its parent (the JVM's short-lived shell children, forked Python workers)
    are counted once, not once per process."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):  # the process ended while we looked
            continue
    return total


def load_average() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class PeakRss:
    """One sampling thread; ``peak_mb`` is the largest tree RSS seen between
    ``start`` and ``stop``."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(SAMPLE_INTERVAL_S):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)
