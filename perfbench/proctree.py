"""CPU and resident memory of every process this benchmark starts.

The benchmark process makes itself a child subreaper (Linux
``PR_SET_CHILD_SUBREAPER``), so the JVM and Python workers a Spark driver
leaves behind are re-parented to it instead of to init: they stay in the
tree that is measured, and ``reap`` can wait for each of them.  A sampler
thread reads ``/proc`` every ``SAMPLE_INTERVAL_S`` seconds; CPU is the sum
of the last utime+stime seen for every process (keyed by pid and start
time, so a reused pid is a new process), RSS the largest sum over one
sample.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36
SAMPLE_INTERVAL_S = 0.1
# seconds reap() waits for processes to end by themselves before it signals
REAP_GRACE_S = 30.0


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stat(pid: str):
    """(ppid, starttime, cpu ticks, rss pages) or None if pid is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces/parens: fields start after the LAST ')'
    fields = raw[raw.rindex(b")") + 2:].split()
    return (int(fields[1]), int(fields[19]), int(fields[11]) + int(fields[12]),
            int(fields[21]))


def descendants(root: int) -> dict:
    """{pid: stat tuple} of every live descendant of ``root``."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                stats[int(name)] = st
    children: dict = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


class TreeSampler:
    """Polls the descendants of this process; ``cpu_s()`` samples now and
    returns the tree's cumulative CPU seconds since the sampler started."""

    def __init__(self):
        self._root = os.getpid()
        self._lock = threading.Lock()
        self._cpu: dict = {}        # (pid, starttime) -> last cpu ticks
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        procs = descendants(self._root)
        with self._lock:
            rss = 0
            for pid, (_, start, ticks, pages) in procs.items():
                self._cpu[(pid, start)] = ticks
                rss += pages * _PAGE
            self.peak_rss_bytes = max(self.peak_rss_bytes, rss)

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self._sample()

    def cpu_s(self) -> float:
        self._sample()
        with self._lock:
            return sum(self._cpu.values()) / _TICK

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss_bytes = 0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def reap() -> None:
    """Wait until this process has no descendants left; after
    ``REAP_GRACE_S`` seconds send SIGTERM, then SIGKILL, to whatever
    remains."""
    me = os.getpid()
    deadline = time.monotonic() + REAP_GRACE_S
    sig = None
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = descendants(me)
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)
