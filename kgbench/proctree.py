"""CPU time and RSS of this process and its descendants, from /proc.

The engine's cost is spread over the driver Python, the JVM that
spark-submit starts under it, and the Python workers the JVM forks; a
Python UDF's CPU does not show in Spark's own executorCpuTime. Summing
/proc over the whole tree is the one figure that covers all of it.
"""

from __future__ import annotations

import os
import threading

CLK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.1        # PeakRss sampling period


def _stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    return comm, raw[raw.rindex(")") + 2:].split()


def tree() -> list[tuple[int, str, list[str]]]:
    """(pid, comm, stat fields after comm) for this process and every
    live descendant. Field 1 is ppid; 11-14 utime, stime, cutime,
    cstime; 21 rss in pages."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (_, f) in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, *stats[pid]))
            todo.extend(kids.get(pid, []))
    return out


def _cpu(f: list[str]) -> float:
    return sum(int(x) for x in f[11:15]) / CLK


def cpu_s(python_only: bool = False) -> float:
    """CPU seconds (user+sys, including reaped children) used so far by
    the tree; with python_only, by the Python descendants alone (the
    UDF workers and their daemon), not this process."""
    me = os.getpid()
    return sum(_cpu(f) for pid, comm, f in tree()
               if not python_only
               or (pid != me and comm.startswith("python")))


def rss_mb() -> float:
    return sum(int(f[21]) for _, _, f in tree()) * PAGE / 2 ** 20


def uptime_s() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0])


def process_age_s() -> float:
    """Seconds since this process started."""
    return uptime_s() - int(_stat(os.getpid())[1][19]) / CLK


class PeakRss:
    """Samples the tree's summed RSS every RSS_INTERVAL_S seconds on a
    daemon thread while in a `with` block; `peak_mb` is the largest
    sample taken inside it."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb())
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self.peak_mb = rss_mb()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb())
