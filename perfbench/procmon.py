"""Resident-set sampler for the Spark driver JVM and its Python workers.

In local mode the JVM is a child of the benchmark process and the
PySpark daemon and workers are descendants of the JVM, so one walk of
``/proc/<pid>/task/*/children`` from the benchmark's own pid finds every
process whose memory the job costs.  The benchmark process itself is
left out: it only submits jobs.
"""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def descendants(root: int) -> list[int]:
    seen, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _rss_and_comm(pid: int) -> tuple[int, str] | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * PAGE
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    return rss, comm


def sample(root: int) -> tuple[int, int]:
    """(JVM bytes, Python-worker bytes) resident right now."""
    jvm = py = 0
    for pid in descendants(root):
        got = _rss_and_comm(pid)
        if got is None:
            continue
        rss, comm = got
        if comm == "java":
            jvm += rss
        elif comm.startswith("python"):
            py += rss
    return jvm, py


class RssSampler:
    """Background thread that tracks the peak of JVM + worker RSS while
    ``active`` is set; peaks are kept separately for the JVM, the
    workers and their sum (sampled at the same instant)."""

    def __init__(self, interval_s: float = 0.05, root: int | None = None):
        self.interval_s = interval_s
        self.root = root or os.getpid()
        self.active = threading.Event()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self.peak_total = self.peak_jvm = self.peak_py = 0
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                self.poll()

    def reset(self) -> None:
        with self._lock:
            self.peak_total = self.peak_jvm = self.peak_py = 0

    def poll(self) -> None:
        jvm, py = sample(self.root)
        with self._lock:
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_py = max(self.peak_py, py)
            self.peak_total = max(self.peak_total, jvm + py)

    def peaks_mb(self) -> tuple[float, float, float]:
        """(total, jvm, python workers) peaks in MiB."""
        mb = 1024.0 * 1024.0
        with self._lock:
            return (self.peak_total / mb, self.peak_jvm / mb,
                    self.peak_py / mb)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> bool:
    """Block until every pid in ``pids`` has exited (or ``timeout_s``);
    an exited child that is not yet reaped counts as gone."""
    end = time.monotonic() + timeout_s
    while time.monotonic() < end:
        if not any(_alive(p) for p in pids):
            return True
        time.sleep(0.05)
    return False
