"""RSS and CPU of a whole process tree, read from ``/proc``.

A PySpark job is three kinds of process: the Python driver, the JVM it
launches, and the Python workers the JVM forks. ``tree_pids`` finds all
of them as descendants of one root pid.

CPU is ``utime + stime + cutime + cstime`` summed over the live tree: a
worker that exits is reaped by its parent inside the tree, and the
kernel then adds its CPU to that parent's ``cutime``/``cstime``, so
short-lived workers are still counted.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None if
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _all_stats() -> dict[int, list[str]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                stats[int(name)] = fields
    return stats


def tree_pids(root: int, stats: dict | None = None) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for pid, fields in (stats or _all_stats()).items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pids, stats: dict | None = None) -> int:
    """Summed resident set size of ``pids`` (gone processes count 0)."""
    total = 0
    for pid in pids:
        fields = stats.get(pid) if stats is not None else _stat_fields(pid)
        if fields is not None:
            total += int(fields[21]) * _PAGE
    return total


def cpu_seconds(pids) -> float:
    """Summed user+sys CPU of ``pids`` and of the children they reaped."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def _alive(pid: int, start: str) -> bool:
    fields = _stat_fields(pid)
    # a zombie has exited; a different start time means a reused pid
    return fields is not None and fields[0] != "Z" and fields[19] == start


def wait_gone(seen: dict[int, str], timeout_s: float) -> None:
    """Wait until every process in ``seen`` (pid -> start time) has
    exited; SIGKILL the ones still running after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [pid for pid, start in seen.items() if _alive(pid, start)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.05)


class RssSampler:
    """Background thread sampling the summed RSS of ``root``'s tree.

    ``peak_between(t0, t1)`` gives the highest sample taken in that
    ``time.monotonic()`` window, so a caller can attribute peaks to
    phases it timestamps itself (also from another process: the
    monotonic clock is system-wide).
    """

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []
        self.seen: dict[int, str] = {}  # every tree pid sampled -> start time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.is_set():
            t = time.monotonic()
            stats = _all_stats()
            pids = tree_pids(self.root, stats)
            for pid in pids:
                if pid in stats:
                    self.seen.setdefault(pid, stats[pid][19])
            self.samples.append((t, rss_bytes(pids, stats)))
            self._stop.wait(max(0.0, self.interval_s - (time.monotonic() - t)))

    def peak_between(self, t0: float, t1: float) -> int:
        return max((rss for t, rss in self.samples if t0 <= t <= t1), default=0)
