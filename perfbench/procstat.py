"""CPU and memory of a process tree, read from ``/proc`` (stdlib only).

The tree is rooted at the Spark JVM; its descendants are the PySpark
daemon and the Python workers it forks.  CPU is utime + stime of every
live process plus cutime + cstime (CPU of children already reaped), so
a worker that exits mid-phase still counts: its parent's cutime grows by
what the worker used.  The JVM's own utime + stime is reported apart
from everything below it, which is Python-side CPU.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the ``(comm)`` field, or None if
    the process is gone.  ``rest[0]`` is the state, ``rest[1]`` ppid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    return s[s.rfind(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def peak_rss(pid: int) -> int:
    """The kernel's high-water mark of ``pid``'s resident memory
    (VmHWM), in bytes; exact, unlike a sampled peak."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    raise ValueError(f"no VmHWM for pid {pid}")


class ProcTree:
    """CPU seconds and resident memory of the tree below ``root``."""

    def __init__(self, root: int):
        self.root = root
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> tuple[float, float, int]:
        """(root's own CPU-s, CPU-s of everything below it, RSS bytes)."""
        own = below = 0
        rss = 0
        for pid in descendants(self.root):
            st = _stat(pid)
            if st is None:
                continue
            utime, stime, cutime, cstime = (int(x) for x in st[11:15])
            if pid == self.root:
                own += utime + stime
                below += cutime + cstime
            else:
                below += utime + stime + cutime + cstime
            rss += int(st[21]) * _PAGE
        self.peak_rss = max(self.peak_rss, rss)
        return own / _CLK_TCK, below / _CLK_TCK, rss

    def cpu(self) -> tuple[float, float]:
        own, below, _ = self.sample()
        return own, below

    def _run(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.sample()

    def start(self, interval: float = 0.1) -> "ProcTree":
        """Track peak RSS from a background thread until :meth:`stop`."""
        self.peak_rss = 0
        self.sample()
        self._stop.clear()
        self._thread = threading.Thread(
            target=self._run, args=(interval,), daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        self.sample()
