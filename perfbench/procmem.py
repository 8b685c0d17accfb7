"""Peak resident memory of this process's descendants, read from /proc.

The descendants are the driver JVM that pyspark launched and the Python
daemon and workers the JVM forked.  A background thread samples the sum of
their ``VmRSS`` every ``interval`` seconds between ``start()`` and
``stop()``.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _rss_kb(pid: int) -> tuple[int, bool]:
    """(VmRSS in KiB, is a python process)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            text = f.read()
    except OSError:
        return 0, False
    rss = 0
    name = ""
    for line in text.splitlines():
        if line.startswith("Name:"):
            name = line.split()[1]
        elif line.startswith("VmRSS:"):
            rss = int(line.split()[1])
    return rss, name.startswith("python")


def descendants_rss_mb(root: int | None = None) -> tuple[float, float]:
    """(total MiB of all descendants, MiB of the Python ones)."""
    kids = _children_map()
    todo = list(kids.get(root or os.getpid(), []))
    total = py = 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        rss, is_py = _rss_kb(pid)
        total += rss
        if is_py:
            py += rss
    return total / 1024.0, py / 1024.0


class PeakRss:
    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_py_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        while True:
            total, py = descendants_rss_mb()
            self.peak_mb = max(self.peak_mb, total)
            self.peak_py_mb = max(self.peak_py_mb, py)
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> "PeakRss":
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self
