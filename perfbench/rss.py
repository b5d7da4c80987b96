"""Peak resident memory of a process tree's Python processes, sampled
from ``/proc`` on a background thread.

Spark's Python workers are forked by ``pyspark.daemon``, which the
driver JVM starts, which the benchmark process starts; so the workers
are the Python processes below the benchmark's own pid.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

PROC = Path("/proc")


def _ppid_and_comm(pid: str) -> tuple[int, str] | None:
    try:
        stat = (PROC / pid / "stat").read_text()
    except OSError:  # the process exited while we scanned
        return None
    # the comm field is parenthesised and may contain spaces
    comm = stat[stat.index("(") + 1 : stat.rindex(")")]
    ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
    return ppid, comm


def _rss_bytes(pid: int) -> int:
    try:
        for line in (PROC / str(pid) / "status").read_text().splitlines():
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss(root_pid: int, comm_prefix: str = "python") -> int:
    """Summed RSS (bytes) of the descendants of ``root_pid`` whose
    command name starts with ``comm_prefix``; the root is excluded."""
    children: dict[int, list[int]] = {}
    comms: dict[int, str] = {}
    for entry in PROC.iterdir():
        if not entry.name.isdigit():
            continue
        info = _ppid_and_comm(entry.name)
        if info is None:
            continue
        pid = int(entry.name)
        children.setdefault(info[0], []).append(pid)
        comms[pid] = info[1]
    total = 0
    todo = list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        if comms.get(pid, "").startswith(comm_prefix):
            total += _rss_bytes(pid)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """``with RssSampler(os.getpid()) as s: ...`` then ``s.peak_bytes``."""

    def __init__(self, root_pid: int, interval_s: float = 0.05, comm_prefix: str = "python"):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.comm_prefix = comm_prefix
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss(self.root_pid, self.comm_prefix))
            self.samples += 1
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
