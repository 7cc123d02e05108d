"""CPU and RSS readings from ``/proc`` for the driver Python process, the
driver JVM (which is also the executor in local mode) and the PySpark
worker processes the JVM forks.

A :class:`Sampler` takes a snapshot at each pass boundary; the difference
of two snapshots is the CPU each process group spent in between.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the
    # last ')' (fields then start at the state, field 3 of proc(5))
    return raw[raw.rfind(")") + 2:].split()


def cpu_s(pid: int, children: bool = False) -> float:
    """utime + stime of ``pid`` (plus its reaped children's), in s."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def child_pids(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = child_pids(todo.pop())
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def peak_rss_mb(pid: int) -> float:
    """High-water mark of the resident set (VmHWM), in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def wait_idle(pid: int, busy_cores: float = 0.1, window_s: float = 0.5,
              limit_s: float = 10.0) -> float:
    """Wait until ``pid`` uses less than ``busy_cores`` of CPU over a
    ``window_s`` window (at most ``limit_s``); return the seconds waited."""
    t0 = time.monotonic()
    while time.monotonic() - t0 < limit_s:
        c0 = cpu_s(pid)
        time.sleep(window_s)
        if cpu_s(pid) - c0 < busy_cores * window_s:
            break
    return time.monotonic() - t0


def reset_peak_rss(pid: int) -> None:
    """Restart VmHWM from the current RSS (``clear_refs`` value 5)."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU of every process below the JVM (the PySpark daemon and its
    workers).  A worker that exited was reaped by the daemon, so its CPU
    sits in the daemon's children counters."""
    total = 0.0
    for top in child_pids(jvm_pid):
        total += cpu_s(top, children=True)
        total += sum(cpu_s(d) for d in descendants(top))
    return total


@dataclass
class Snapshot:
    jvm_cpu: float
    worker_cpu: float


class Sampler:
    """Snapshots of the JVM's and the PySpark workers' CPU time (the
    driver Python process reads its own with ``time.process_time``)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def snap(self) -> Snapshot:
        return Snapshot(cpu_s(self.jvm_pid), worker_cpu_s(self.jvm_pid))
