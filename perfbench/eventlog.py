"""Spark event-log parser: jobs, SQL executions and task metrics.

The parse loop follows ``tools/profile_family.py`` (job start/end pairing,
stage completion, per-task accumulation) and extends it to every task
metric the per-layer ledger needs.  Times are epoch milliseconds, the same
clock as Python's ``time.time()`` on the driver host.

Attribution is by time, not by job properties: a job belongs to the call
whose interval holds its submission time, a task to the interval holding
its launch time.  Threads the library spawns do not inherit the caller's
local properties, so a job description alone would lose their jobs.
"""

from __future__ import annotations

import json
import os
import pathlib
import time
from dataclasses import dataclass, field

# task-level sums, keyed by ledger name
TASK_FIELDS = (
    "run_ms", "cpu_ns", "deser_cpu_ns", "gc_ms", "sched_delay_ms",
    "result_bytes", "input_bytes", "input_rows", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_ms", "disk_spill_bytes",
)


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int
    stage_ids: list[int]


@dataclass
class Task:
    launch_ms: int
    metrics: dict[str, int]


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)
    completed_stages: set[int] = field(default_factory=set)
    sql_starts: list[int] = field(default_factory=list)


def _task_metrics(ev: dict) -> dict[str, int]:
    tm = ev.get("Task Metrics") or {}
    ti = ev.get("Task Info") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    im = tm.get("Input Metrics") or {}
    launch, finish = ti.get("Launch Time", 0), ti.get("Finish Time", 0)
    getting = ti.get("Getting Result Time", 0)
    getting_ms = finish - getting if getting else 0
    run = tm.get("Executor Run Time", 0)
    # the Spark UI's scheduler delay: task duration not spent deserializing,
    # running, serializing the result or fetching it
    delay = max(0, (finish - launch) - run
                - tm.get("Executor Deserialize Time", 0)
                - tm.get("Result Serialization Time", 0) - getting_ms)
    return {
        "run_ms": run,
        "cpu_ns": tm.get("Executor CPU Time", 0),
        "deser_cpu_ns": tm.get("Executor Deserialize CPU Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "sched_delay_ms": delay,
        "result_bytes": tm.get("Result Size", 0),
        "input_bytes": im.get("Bytes Read", 0),
        "input_rows": im.get("Records Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0)),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "disk_spill_bytes": tm.get("Disk Bytes Spilled", 0),
    }


def parse(path: str) -> EventLog:
    """Read one uncompressed, non-rolling event-log file."""
    out = EventLog()
    pending: dict[int, tuple[int, list[int]]] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue            # a torn last line of an unfinished log
            e = ev.get("Event", "")
            if e == "SparkListenerJobStart":
                pending[ev["Job ID"]] = (
                    ev["Submission Time"],
                    [s["Stage ID"] for s in ev.get("Stage Infos", [])])
            elif e == "SparkListenerJobEnd":
                p = pending.pop(ev["Job ID"], None)
                if p:
                    out.jobs.append(Job(ev["Job ID"], p[0],
                                        ev["Completion Time"], p[1]))
            elif e == "SparkListenerStageCompleted":
                out.completed_stages.add(ev["Stage Info"]["Stage ID"])
            elif e == "SparkListenerTaskEnd":
                out.tasks.append(Task(
                    (ev.get("Task Info") or {}).get("Launch Time", 0),
                    _task_metrics(ev)))
            elif e.endswith("SparkListenerSQLExecutionStart"):
                out.sql_starts.append(ev["time"])
    out.jobs.sort(key=lambda j: j.submit_ms)
    return out


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length of the union of ``[a, b]`` intervals."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def window(log: EventLog, t0_ms: float, t1_ms: float) -> dict:
    """Everything the log attributes to the interval ``[t0_ms, t1_ms]``:
    jobs by submission time, tasks by launch time, SQL executions by start
    time.  Job intervals are clipped to the window."""
    jobs = [j for j in log.jobs if t0_ms <= j.submit_ms <= t1_ms]
    tasks = [t for t in log.tasks if t0_ms <= t.launch_ms <= t1_ms]
    sums = {k: 0 for k in TASK_FIELDS}
    for t in tasks:
        for k, v in t.metrics.items():
            sums[k] += v
    stages = {s for j in jobs for s in j.stage_ids
              if s in log.completed_stages}
    covered = union_ms([(j.submit_ms, min(j.end_ms, t1_ms)) for j in jobs])
    return {
        "jobs": jobs, "n_jobs": len(jobs), "n_stages": len(stages),
        "n_tasks": len(tasks), "job_ms": covered,
        "n_sql": sum(1 for s in log.sql_starts if t0_ms <= s <= t1_ms),
        **sums,
    }


class Tap:
    """Spark's own event-log writer, attached to a running context for the
    traced passes only, so untraced passes in the same session pay nothing
    for it.  :meth:`close` drains the listener bus before detaching."""

    def __init__(self, sc, directory: str):
        os.makedirs(directory, exist_ok=True)
        self.directory = directory
        jvm = sc._jvm
        self._ctx = sc._jsc.sc()
        conf = (self._ctx.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        app_id = f"{sc.applicationId}-{time.time_ns()}"
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            app_id, jvm.scala.Option.apply(None),
            jvm.java.net.URI(pathlib.Path(directory).resolve().as_uri()),
            conf, sc._jsc.hadoopConfiguration())
        self._listener.start()
        self._ctx.addSparkListener(self._listener)

    def close(self) -> None:
        self._ctx.listenerBus().waitUntilEmpty()
        self._ctx.removeSparkListener(self._listener)
        self._listener.stop()

    def path(self) -> str:
        entries = [e for e in os.listdir(self.directory)
                   if not e.startswith(".")]
        if len(entries) != 1:
            raise RuntimeError(f"expected one event log in {self.directory}:"
                               f" {entries}")
        return os.path.join(self.directory, entries[0])
