"""Process-tree readings from /proc: RSS, CPU time, noise probes.

The Spark driver JVM and its Python workers are descendants of the
benchmark process, so everything here is measured from outside the
program under test.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_rss_mb() -> float:
    """Summed resident set of all descendants (JVM + Python workers)."""
    total = 0
    for pid in descendants():
        fields = _stat(pid)
        if fields:
            total += int(fields[21])  # rss, pages
    return total * _PAGE / 2**20


def tree_cpu_s() -> float:
    """User + system CPU seconds of all live descendants, including the
    children they have already reaped (Python workers that exited)."""
    total = 0
    for pid in descendants():
        fields = _stat(pid)
        if fields:
            total += sum(int(v) for v in fields[11:15])  # utime..cstime
    return total / _TICK


class PeakRss:
    """Background sampler of ``tree_rss_mb``; ``peak`` holds the maximum."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.peak = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_probe_ms() -> float:
    """Wall time of a fixed single-thread busy loop: a co-tenant burst on
    the box stretches it even when the OS reports no steal."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1000


def wait_for_exit(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid has exited; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = pids
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive
                 if (fields := _stat(p)) is not None and fields[0] != "Z"]
    return alive
