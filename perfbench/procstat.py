"""CPU time and resident memory of the Spark JVM and its Python workers,
read from /proc.

The JVM is the process the PySpark gateway launched; Python workers are
its descendants (pyspark.daemon and the workers it forks). CPU is summed
over the whole tree including reaped children, so a worker that exits
during a pass still counts: its parent's cutime/cstime absorb it.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stats() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages, command)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process exited while we listed /proc
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        f = raw[raw.rindex(")") + 2:].split()
        # fields after the command: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14) ... rss(21)
        out[int(entry)] = (int(f[1]), sum(int(x) for x in f[11:15]), int(f[21]), comm)
    return out


def _tree(stats: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in stats.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            found.append(pid)
            todo.extend(children.get(pid, ()))
    return found


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and every descendant."""
    stats = _read_stats()
    return sum(stats[p][1] for p in _tree(stats, root)) / _CLK


def tree_rss_mb(root: int) -> float:
    """Resident memory of `root` and its Python descendants. Other
    children are skipped: a child the JVM has just forked to run a shell
    command still shows the JVM's whole resident set until it execs."""
    stats = _read_stats()
    pids = [p for p in _tree(stats, root) if p == root or stats[p][3].startswith("python")]
    return sum(stats[p][2] for p in pids) * _PAGE / 2**20


class PeakRss:
    """Samples the tree's summed RSS on a background thread; `peak_mb`
    is the largest sample since `start`."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self._root = root
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_mb = 0.0

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self._root))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> PeakRss:
        self.peak_mb = tree_rss_mb(self._root)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self._root))
