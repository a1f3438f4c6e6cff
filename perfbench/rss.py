"""Peak summed resident memory of this process tree (driver, JVM, Python
workers), read from ``/proc`` by one sampling thread.

Each process counts its proportional set size (``Pss`` in
``/proc/<pid>/smaps_rollup``): Spark forks its Python workers from one
daemon, so their plain RSS values share most pages and a sum of RSS would
count those pages once per worker, making the total follow how many idle
workers happen to exist rather than memory in use."""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root``."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the tree under ``root`` every ``interval`` seconds between
    :meth:`start` and :meth:`stop`; ``peak`` is the largest sum seen."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak
