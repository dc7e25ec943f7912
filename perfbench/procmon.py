"""Process and host readings from ``/proc`` (no psutil): the resident set
of a process tree, the load average and the CPU steal share."""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict:
    out = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat[stat.rfind(")") + 2 :].split()
        if fields[0] != "Z":
            out[int(d.name)] = int(fields[1])
    return out


def process_tree(root: int) -> list:
    """``root`` and every live descendant."""
    children: dict = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo += children.get(pid, [])
    return tree


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass  # the process ended between listing and reading
    return total


def alive(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


class PeakRss:
    """Samples the summed RSS of a process tree in a thread; the tree is
    re-listed every ``relist`` samples to catch new Python workers."""

    def __init__(self, root: int, interval: float = 0.05, relist: int = 10):
        self.root, self.interval, self.relist = root, interval, relist
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        n, pids = 0, []
        while not self._stop.is_set():
            if n % self.relist == 0:
                pids = process_tree(self.root)
            self.peak = max(self.peak, rss_bytes(pids))
            n += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def loadavg_1m() -> float:
    return float(Path("/proc/loadavg").read_text().split()[0])


def cpu_times() -> list:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal (in clock ticks)."""
    return [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:9]]


def steal_share(before: list, after: list) -> float:
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total > 0 else 0.0


def wait_gone(pids, timeout: float) -> list:
    """Wait until none of ``pids`` is alive; returns those still alive."""
    deadline = time.monotonic() + timeout
    left = [p for p in pids if alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if alive(p)]
    return left
