"""Host facts and process-tree memory sampling (Linux /proc only)."""

from __future__ import annotations

import os
import platform
import threading
import time

SAMPLE_INTERVAL_S = 0.5


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 1024 / 1024, 2),
        "load_1m": os.getloadavg()[0],
        "python": platform.python_version(),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int) -> int:
    """Resident memory of `root` and all its descendants.  Each process
    counts its proportional set (PSS): pages shared after a fork are split
    among the sharers, so a JVM's short-lived spawn helpers or the forked
    Python workers are not counted twice."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:  # exited meanwhile
            continue
    return total


class MemorySampler:
    """Samples the process tree's resident memory (PSS) on a thread;
    `peak(t0, t1)` is the largest sample taken in that wall-clock window."""

    def __init__(self):
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.samples.append((time.time(), tree_pss_bytes(pid)))
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def peak(self, t0: float, t1: float) -> int:
        return max((r for t, r in self.samples if t0 <= t <= t1), default=0)
