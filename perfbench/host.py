"""Host facts, host-fitted Spark sizing and process-tree bookkeeping."""

from __future__ import annotations

import os
import signal
import threading
import time


def _meminfo_kb() -> dict:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0])
    return out


def host_facts() -> dict:
    mem = _meminfo_kb()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem["MemTotal"] // 1024,
        "mem_available_mb": mem.get("MemAvailable", 0) // 1024,
        "loadavg_1_5_15": load,
    }


def driver_memory_mb(mem_total_mb: int) -> int:
    """An eighth of physical memory, between 1 and 8 GiB: the JVM heap
    then fits beside the Python workers and other tenants without the
    kernel's OOM killer stepping in (session.py's own default is 48g)."""
    return max(1024, min(mem_total_mb // 8, 8192))


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended
        pass
    return 0


class TreeRssSampler:
    """Peak resident memory of this process and all its descendants
    (driver Python, the JVM and its Python workers), sampled on a
    background thread. Summing PSS counts each shared page once: forked
    Python workers share pages with their parent, and a JVM child between
    fork and exec maps the whole JVM heap."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_pss_bytes(p) for p in [me] + descendants(me))
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "TreeRssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def wait_gone(pids: list, timeout_s: float = 30.0) -> None:
    """Wait until every pid has exited; terminate, then kill, stragglers."""
    deadline = time.monotonic() + timeout_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if pids:
                time.sleep(0.1)
        if not pids:
            return


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"  # a zombie has exited; its parent reaps it
