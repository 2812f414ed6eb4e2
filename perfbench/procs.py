"""Process hygiene for the benchmark: find the Spark JVM and its Python
workers through /proc, sample their resident memory, and stop them.

Linux only (reads /proc); no third-party dependency."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
SPARK_JVM_MARK = b"org.apache.spark.deploy.SparkSubmit"


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        rest = stat[stat.rfind(b")") + 2:].split()
        out[int(name)] = int(rest[1])
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below `pid` (children, grandchildren, ...)."""
    kids: dict[int, list[int]] = {}
    for child, parent in _ppid_map().items():
        kids.setdefault(parent, []).append(child)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def foreign_spark_jvms() -> list[int]:
    """Spark JVMs on this machine that this process did not start."""
    mine = set(descendants(os.getpid()))
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                if SPARK_JVM_MARK in f.read():
                    out.append(int(name))
        except OSError:
            continue
    return out


def process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    ticks = int(stat[stat.rfind(b")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_ticks() -> int:
    """Machine-wide CPU time stolen by the hypervisor, in clock ticks."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2:][:1] != b"Z"


def stop_tree(pids: list[int], grace_sec: float = 10.0) -> list[int]:
    """SIGTERM, then SIGKILL after `grace_sec`, and wait until every pid
    has ended. Returns the pids still alive (empty on success)."""
    for sig, wait in ((signal.SIGTERM, grace_sec), (signal.SIGKILL, 10.0)):
        live = [p for p in pids if _alive(p)]
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait
        while live and time.time() < deadline:
            for p in live:
                try:
                    os.waitpid(p, os.WNOHANG)  # reap direct children
                except ChildProcessError:
                    pass
            live = [p for p in live if _alive(p)]
            time.sleep(0.05)
        if not live:
            return []
    return [p for p in pids if _alive(p)]


class RssSampler(threading.Thread):
    """Peak summed RSS of every process below this one (the Spark JVM
    and its Python workers), sampled every `period` seconds."""

    def __init__(self, period: float = 0.2):
        super().__init__(name="perfbench-rss", daemon=True)
        self.period = period
        self.peak = 0
        self.samples = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = sum(rss_bytes(p) for p in descendants(os.getpid()))
        self.peak = max(self.peak, total)
        self.samples += 1

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)
