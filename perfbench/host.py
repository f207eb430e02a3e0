"""Host record and the PySpark worker RSS sampler."""

from __future__ import annotations

import os
import platform
import threading


def host_record() -> dict:
    """CPUs, memory, load and library versions of the box a run used."""
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _read(path: str) -> bytes:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return b""


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid``, found through the
    ``/proc/PID/task/TID/children`` lists rather than a walk of all of
    ``/proc``, so sampling costs a few reads per process tree."""
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # the process exited meanwhile
            continue
        for tid in tids:
            for child in _read(f"/proc/{pid}/task/{tid}/children").split():
                out.append(int(child))
                todo.append(int(child))
    return out


def _rss_kb(pid: int) -> int:
    for line in _read(f"/proc/{pid}/status").splitlines():
        if line.startswith(b"VmRSS:"):
            return int(line.split()[1])
    return 0


def spark_rss_kb(root_pid: int) -> tuple[int, int]:
    """(largest PySpark Python worker, sum over the JVM and all Python
    workers) RSS in kB, over the processes that descend from ``root_pid``."""
    worker = total = 0
    for pid in descendants(root_pid):
        rss = _rss_kb(pid)
        total += rss
        cmd = _read(f"/proc/{pid}/cmdline")
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            worker = max(worker, rss)
    return worker, total


def pin_tree(root_pid: int, cpus: set) -> None:
    """Pin every thread of ``root_pid`` and its descendants (the JVM, the
    Python daemon and workers) to ``cpus``; threads and processes they
    start later inherit the mask."""
    for pid in [root_pid] + descendants(root_pid):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # the process exited meanwhile
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # the thread exited meanwhile
                pass


class RssSampler:
    """One thread that samples RSS every ``period_s`` and keeps the peaks
    of the current window (``begin``/``end`` around a job). Unless
    ``start`` is called, only the one sample ``end`` takes is made."""

    def __init__(self, root_pid: int, period_s: float = 0.1):
        self._root = root_pid
        self._period = period_s
        self._lock = threading.Lock()
        self._peak_kb = (0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def close(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def begin(self) -> None:
        with self._lock:
            self._peak_kb = (0, 0)

    def end(self) -> tuple[float, float]:
        """Peak (Python worker, Spark total) RSS in MB since ``begin``,
        including one final sample."""
        self._sample()
        with self._lock:
            return self._peak_kb[0] / 1024, self._peak_kb[1] / 1024

    def _sample(self) -> None:
        worker, total = spark_rss_kb(self._root)
        with self._lock:
            self._peak_kb = (max(self._peak_kb[0], worker),
                             max(self._peak_kb[1], total))

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self._sample()
