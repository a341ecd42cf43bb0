"""Peak resident memory of this process's children, sampled from /proc.

Spark's JVM is a child of the benchmark's Python process and the
PySpark worker daemon and its forked workers are children of the JVM, so
the descendant tree is exactly "JVM plus Python workers". RSS of forked
workers counts pages they share with the daemon once per process.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:  # the process ended while we looked
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(d.name))
    return tree


def descendants_rss(root: int) -> tuple[int, int]:
    """(JVM bytes, Python worker bytes) resident in ``root``'s descendants;
    a process counts as a Python worker when its command is python."""
    tree = _children()
    jvm = workers = 0
    stack = list(tree.get(root, []))
    while stack:
        pid = stack.pop()
        stack.extend(tree.get(pid, []))
        try:
            rss = int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
            comm = Path(f"/proc/{pid}/comm").read_text()
        except OSError:
            continue
        if comm.startswith("python"):
            workers += rss
        else:
            jvm += rss
    return jvm, workers


class PeakRss:
    """Samples ``descendants_rss(os.getpid())`` on a thread until stopped;
    keeps the peak of each part."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_jvm = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            jvm, workers = descendants_rss(me)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_workers = max(self.peak_workers, workers)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
