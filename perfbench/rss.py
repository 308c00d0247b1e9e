"""Peak resident memory of the Spark driver JVM and its Python workers.

A daemon thread samples ``/proc`` every 0.2 s and sums the resident set
of every descendant of this process: the JVM that ``spark-submit``
starts, the ``pyspark.daemon`` it forks and the workers forked from that.
The benchmark's own driver process (inputs, oracle) is excluded.

A process younger than ``MIN_AGE_S`` is left out of a sample: a child
the JVM spawns shares the JVM's memory until it execs, so a sample that
catches one would count the JVM twice. A long-lived process is counted
from its next sample on.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
MIN_AGE_S = 0.5


def _children_map() -> tuple[dict[int, list[int]], set[int]]:
    """Children of every process, and the processes younger than
    ``MIN_AGE_S``."""
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0])
    kids: dict[int, list[int]] = {}
    young: set[int] = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # fields after the parenthesised command name: state (3), ppid
        # (4), ..., starttime (22) in clock ticks since boot
        fields = stat.rsplit(")", 1)[1].split()
        kids.setdefault(int(fields[1]), []).append(int(name))
        if now - int(fields[19]) / _TICK < MIN_AGE_S:
            young.add(int(name))
    return kids, young


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def descendants_rss() -> int:
    kids, young = _children_map()
    total, todo = 0, list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        if pid not in young:
            total += _rss_bytes(pid)
        todo.extend(kids.get(pid, []))
    return total


class PeakRss:
    """Context manager: ``peak_mb`` holds the largest sample seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, descendants_rss())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)
