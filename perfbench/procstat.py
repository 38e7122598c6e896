"""Process-tree resident memory sampling and a box-speed probe.

The sampled memory counts this Python process plus every descendant:
the Spark driver JVM that pyspark launches and the Python workers it
forks. Each process contributes its proportional set size (``Pss`` in
``/proc/<pid>/smaps_rollup``): resident pages shared between processes
are divided among them, so the pages a forked worker still shares with
its daemon count once instead of once per fork. The sampler reads
``/proc`` on a daemon thread, so it works without psutil.
"""

from __future__ import annotations

import os
import statistics
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # process ended between listdir and open
            continue
        # the command name may hold spaces and parentheses: the ppid is
        # the second field after the LAST ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:  # process ended while being read
            continue
    return total


class MemorySampler:
    """Samples the memory of this process tree every ``interval``
    seconds until :meth:`stop`; ``peak_bytes`` is the largest sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler",
                                        daemon=True)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(root))
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def box_probe_ms(reps: int = 5) -> float:
    """Median milliseconds of a fixed pure-Python loop: a box-speed
    reading recorded next to every result, so runs made while the
    machine was slower or busier can be told apart."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)
