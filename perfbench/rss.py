"""Host readings from ``/proc``: peak resident memory of this process and
its JVM, and the share of CPU time the hypervisor stole during a run."""

from __future__ import annotations

import os
import threading
from pathlib import Path

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
INTERVAL_S = 0.2


def _rss_kb(pid: int) -> int:
    try:
        fields = Path(f"/proc/{pid}/statm").read_text().split()
    except OSError:
        return 0
    return int(fields[1]) * PAGE_KB


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            kids += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            continue
    return kids


def tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and its direct children (the JVM). The
    JVM's Python workers are left out: they are forks whose shared pages
    would be counted once per worker."""
    return _rss_kb(root) + sum(_rss_kb(c) for c in _children(root))


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    fields = [int(v) for v in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


class RssSampler:
    """Samples the process tree's resident memory on a daemon thread and
    keeps the peak. Use as a context manager around the whole run."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, tree_rss_kb(pid))
            if self._stop.wait(INTERVAL_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

