"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own Python process, the Spark JVM it
launches and the Python workers that JVM forks. CPU time counts
``utime + stime`` of every live process plus ``cutime + cstime``, the
time of children each one has already reaped, so a worker that exits
within a pass still counts once its parent reaps it.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None
    when the process is gone. Field 0 is the state, field 1 the parent
    pid."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (zombies excluded)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(int(entry))
        if f is not None and f[0] != "Z":
            children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the tree, reaped children
    included."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_mb(root: int) -> float:
    """Summed resident set size of the tree, in MiB."""
    pages = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except OSError:
            pass
    return pages * _PAGE / (1024 * 1024)


class RssSampler:
    """Samples the tree's RSS on a background thread and keeps the
    peak. Use as a context manager."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive (a zombie counts as ended);
    return the ones still alive at the timeout."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [
            p
            for p in alive
            if (f := _stat_fields(p)) is not None and f[0] != "Z"
        ]
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    return alive
