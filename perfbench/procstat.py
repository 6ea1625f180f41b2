"""CPU time and resident memory of this process and all its descendants
(the JVM and the Python workers), read from ``/proc``."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats():
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        f = raw[raw.rfind(")") + 2:].split()
        out[int(d)] = (int(f[1]), int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]),
                       int(f[21]))
    return out


def tree() -> dict:
    """The stats of this process and its descendants."""
    stats = _stats()
    kids = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def jit_seconds(pids) -> float:
    """User + system CPU seconds of the JIT compiler threads of ``pids``
    (the JVM's "C1/C2 CompilerThread" threads, which must live as long as
    the JVM: ``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    ticks = 0
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            if " CompilerThre" not in raw[:raw.rfind(")")]:
                continue
            f = raw[raw.rfind(")") + 2:].split()
            ticks += int(f[11]) + int(f[12])
    return ticks / _TICK


def work_cpu_seconds() -> float:
    """User + system CPU seconds of the process tree (live processes plus
    children they have already reaped), without the JIT compiler threads'
    time: how much compiling a pass gets depends on how far the short
    session's warm-up has come, which on a shared host depends on the other
    tenants."""
    t = tree()
    return (sum(c for _, c, _ in t.values()) / _TICK) - jit_seconds(t)


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests while this host's
    CPUs wanted to run, summed over CPUs (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def rss_mb(pids) -> float:
    """Summed resident memory of ``pids`` (those still alive)."""
    pages = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except OSError:
            pass
    return pages * _PAGE / 2 ** 20


class PeakRss:
    """Samples the tree's summed RSS in a thread while active.  Each sample
    reads only the known processes' ``statm``; the tree itself, which
    changes only when Python workers start or end, is listed again every
    ``refresh`` seconds."""

    def __init__(self, interval: float = 0.05, refresh: float = 1.0):
        self.interval, self.refresh = interval, refresh
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        pids, listed = (), -self.refresh
        while not self._stop.is_set():
            if time.monotonic() - listed >= self.refresh:
                pids, listed = tuple(tree()), time.monotonic()
            self.peak = max(self.peak, rss_mb(pids))
            self._stop.wait(self.interval)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_mb(tree()))
