"""Peak resident memory of the Spark JVM and its Python workers, sampled
from ``/proc`` (psutil is not installed)."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict:
    """pid -> parent pid of every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def tree(root: int) -> set:
    """``root`` and all its live descendants."""
    parents = _children()
    pids = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in pids and pid not in pids:
                pids.add(pid)
                grew = True
    return pids & (set(parents) | {root})


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def pss_bytes(pid: int) -> int:
    """Proportional set size: a page shared by n processes (the Python
    workers fork from one daemon) counts 1/n in each, so summing PSS over
    a tree gives its real footprint where summed RSS counts it n times."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline") as fh:
            return fh.read().replace("\0", " ")[:80]
    except OSError:
        return ""


class PeakRss:
    """Background sampler of the resident memory of a process tree: RSS of
    the root (the JVM, which shares little) plus PSS of its Python workers
    (``pyspark.daemon`` and its forks, which share the daemon's pages). PSS
    is not read for the JVM: ``smaps_rollup`` walks its page tables under
    the lock its allocator needs, which would slow the JVM being measured.
    Other descendants are left out: they are the JVM's short-lived forks
    for shell commands, whose pages are the JVM's own until they exec."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root = root
        self.interval = interval
        self.peak = 0
        #: pid -> (command line, PSS bytes) at the peak
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def reset(self) -> None:
        self.peak = 0
        self.at_peak = {}

    def _run(self) -> None:
        while not self._stop.is_set():
            workers = [
                pid for pid in tree(self.root)
                if pid != self.root and "pyspark.daemon" in _comm(pid)
            ]
            sizes = {self.root: rss_bytes(self.root)}
            sizes.update((pid, pss_bytes(pid)) for pid in workers)
            total = sum(sizes.values())
            if total > self.peak:
                self.peak = total
                self.at_peak = {pid: (_comm(pid), b) for pid, b in sizes.items()}
            self._stop.wait(self.interval)


def wait_gone(pids, timeout: float = 30.0) -> list:
    """Wait until none of ``pids`` is alive; returns the survivors."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
