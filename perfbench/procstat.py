"""CPU and resident-memory readers for a process tree, straight from
``/proc`` (no psutil).

The tree is a root pid plus every descendant. CPU is the sum of
``utime + stime + cutime + cstime`` over the live tree: a child that exits
and is reaped moves its time into its parent's ``c*time``, so the sum only
ever grows and the difference of two readings is the CPU the tree used in
between. Memory is the sum of resident set sizes over the live tree.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def parse_stat(text: str) -> tuple[int, float, int]:
    """``(ppid, cpu_seconds, rss_bytes)`` from one ``/proc/<pid>/stat`` line.

    The command name (field 2) may hold spaces and parentheses, so fields
    are counted from the last ``)``.
    """
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); field n is rest[n - 3]
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    rss_pages = int(rest[21])
    return ppid, ticks / _TICK, rss_pages * _PAGE


def _read_all(proc: str) -> dict[int, tuple[int, float, int]]:
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as fh:
                out[int(name)] = parse_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
    return out


def _tree(root: int, stats: dict[int, tuple[int, float, int]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root] if root in stats else []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_stats(root: int, proc: str = "/proc") -> tuple[float, dict[int, int]]:
    """CPU seconds summed over ``root`` and its descendants, and each one's
    resident bytes by pid."""
    stats = _read_all(proc)
    tree = _tree(root, stats)
    return sum(stats[p][1] for p in tree), {p: stats[p][2] for p in tree}



def descendants(root: int, proc: str = "/proc") -> list[int]:
    """Pids of every live descendant of ``root``."""
    return [p for p in _tree(root, _read_all(proc)) if p != root]


def _alive(pid: int, proc: str) -> bool:
    try:
        with open(f"{proc}/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return False
    return text[text.rindex(")") + 2] != "Z"  # a zombie has ended


def wait_ended(pids: list[int], timeout_s: float = 30.0,
               proc: str = "/proc") -> None:
    """Waits until every pid has ended; kills what is left at the timeout
    and waits for that too. Orphans re-parent away from us, so take the
    pid list while the tree is still whole."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if _alive(p, proc)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p, proc)]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p, proc) for p in left):
        time.sleep(0.05)


class TreeSampler:
    """Samples a process tree on a background thread between ``start()``
    and ``stop()``; reports CPU used and peak memory in between.

    A process's memory counts from its second sample on, at the smaller of
    its last two readings. A child caught between fork and exec shares its
    parent's address space and reports the parent's whole resident set;
    counted, it would double the JVM for one sample."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2,
                 proc: str = "/proc"):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.proc = proc
        self.peak_rss = 0
        self.cpu_s = 0.0
        self._last: dict[int, int] = {}
        self._cpu0 = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> float:
        cpu, rss = tree_stats(self.root, self.proc)
        settled = sum(min(r, self._last[p]) for p, r in rss.items()
                      if p in self._last)
        self._last = rss
        self.peak_rss = max(self.peak_rss, settled)
        return cpu

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._cpu0 = self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.cpu_s = self._sample() - self._cpu0
