"""Peak resident memory of this process and every process it started.

psutil is not available, so the sampler reads /proc directly: the process
tree (driver -> JVM -> Python daemon -> Python workers) is re-walked about
once a second, and the resident memory of the known pids is summed every
`interval` seconds. `take_window_mb()` gives the peak of that sum since
its previous call, so a caller can take one peak per job.

Each process counts its proportional set size (PSS, from smaps_rollup):
resident pages shared by several processes are split between them. Plain
RSS would count a page once per sharer, so a worker freshly forked from
the Python daemon, or the JVM's short-lived fork+exec helpers, would
momentarily double the sum.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field may contain spaces and parentheses; ppid is the
        # second field after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass  # the process ended between the walk and the read
    return 0


class PeakRss:
    """Background sampler; use as a context manager, read peaks with
    `take_window_mb()`."""

    def __init__(self, interval: float = 0.2, rewalk_every: int = 5):
        self.interval = interval
        self.rewalk_every = rewalk_every
        self.window_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        pids: list = []
        tick = 0
        while True:
            if tick % self.rewalk_every == 0:
                pids = descendants(root)
            tick += 1
            total = sum(_pss_bytes(p) for p in pids)
            with self._lock:
                self.window_bytes = max(self.window_bytes, total)
            if self._stop.wait(self.interval):
                return

    def take_window_mb(self) -> float:
        """Peak since the previous call (or the start); resets the window."""
        with self._lock:
            got, self.window_bytes = self.window_bytes, 0
        return got / (1024 * 1024)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
