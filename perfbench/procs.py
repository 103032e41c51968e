"""Host facts, peak resident memory of the process tree, and clean-up
of every process the benchmark started. Linux /proc only."""

from __future__ import annotations

import os
import signal
import threading
import time


def host_facts() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable", "MemFree"):
                mem[k] = int(v.split()[0]) // 1024
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": load,
        "mem_total_mb": mem.get("MemTotal"),
        "mem_available_mb": mem.get("MemAvailable"),
        "mem_free_mb": mem.get("MemFree"),
        "cpu_jiffies": cpu_jiffies(),
    }


def cpu_jiffies() -> dict:
    """Host-wide CPU time by state from /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return dict(zip(("user", "nice", "system", "idle", "iowait", "irq", "softirq",
                     "steal"), vals))


def cpu_shares(start: dict, end: dict) -> dict:
    """Share of CPU time per state between two ``cpu_jiffies`` readings.
    ``steal`` is time a hypervisor gave to other guests: a run with a
    high steal share ran on a noisy host."""
    d = {k: end[k] - start[k] for k in start}
    total = sum(d.values()) or 1
    return {k: v / total for k, v in d.items()}


def _children_map() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces and parentheses: the fields after the
        # LAST ')' are fixed
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed RSS of this process's descendants (the JVM
    and the Python workers it forks) every ``interval`` seconds on a
    daemon thread; ``peak_mb`` is the largest sum seen. The process
    tree is rescanned every ``rescan`` samples only, so sampling costs
    a few file reads, not a walk of /proc."""

    def __init__(self, interval: float = 0.2, rescan: int = 5) -> None:
        self.interval = interval
        self.rescan = rescan
        self.peak_kb = 0
        self.at_peak: list[int] = []  # per-process RSS (kB) in the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % self.rescan == 0:
                pids = descendants(me)
            n += 1
            rss = {p: _rss_kb(p) for p in pids}
            total = sum(rss.values())
            if total > self.peak_kb:
                self.peak_kb = total
                self.at_peak = sorted(rss.values(), reverse=True)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _reap_exited() -> None:
    """Collect the exit status of every child that has ended, so a
    finished child does not linger as a zombie in the process tree."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _alive() -> list[int]:
    _reap_exited()
    return descendants(os.getpid())


def reap_descendants(timeout: float = 30.0) -> list[int]:
    """Wait for every descendant to exit; SIGTERM, then SIGKILL, the
    ones still alive after ``timeout``. Returns the pids signalled."""
    deadline = time.monotonic() + timeout
    while _alive() and time.monotonic() < deadline:
        time.sleep(0.2)
    signalled = []
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = _alive()
        if not left:
            break
        for p in left:
            try:
                os.kill(p, sig)
                signalled.append(p)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 5
        while _alive() and time.monotonic() < end:
            time.sleep(0.1)
    return signalled
