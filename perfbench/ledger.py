"""Per-layer ledger of a traced pass, spans and per-call path fingerprints.

Each call's wall time splits into the union of its Spark job intervals
(``spark.job_s``) and the rest (``driver.gap_s``: package driver Python,
Catalyst, the sql() front end and driver-side finalizers).  Task metrics
from the event log give the executor, scan and shuffle layers; ``/proc``
gives the JVM's CPU outside tasks and the PySpark workers' CPU.
"""

from __future__ import annotations

import statistics

import eventlog
from workloads import SQL_PAIRS

UNITS = {
    "driver.gap_s": "s",
    "driver.py_cpu_s": "s",
    "driver.result_bytes": "bytes",
    "sql_macros.extra_s": "s",
    "spark.sql_executions": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.job_s": "s",
    "spark.sched_delay_s": "s",
    "jvm.nontask_cpu_s": "s",
    "spark.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.busy_frac": "ratio",
    "scan.input_bytes": "bytes",
    "scan.input_rows": "count",
    "scan.passes": "ratio",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "spill.disk_bytes": "bytes",
    "pyworker.cpu_s": "s",
    "cache.left_persisted": "count",
    "trace.overhead_frac": "ratio",
}
# in the per-pass ledger of the record only: shuffle fetch wait is 0 on
# every run in local mode, where all shuffle blocks are local
RECORD_ONLY = ("shuffle.fetch_wait_s",)


def _ms(t: float) -> float:
    return t * 1000.0


def call_windows(log: eventlog.EventLog, p: dict) -> list[dict]:
    return [eventlog.window(log, _ms(c["start"]), _ms(c["end"]))
            for c in p["calls"]]


def pass_ledger(log: eventlog.EventLog, p: dict, table_rows: int,
                cores: int) -> dict:
    """The per-layer values of one traced pass."""
    wins = call_windows(log, p)
    gap = sum(c["wall_s"] - w["job_ms"] / 1000.0
              for c, w in zip(p["calls"], wins))
    job_s = sum(w["job_ms"] for w in wins) / 1000.0
    tot = eventlog.window(log, _ms(p["start"]), _ms(p["end"]))
    task_cpu = (tot["cpu_ns"] + tot["deser_cpu_ns"]) / 1e9
    run_s = tot["run_ms"] / 1000.0
    return {
        "driver.gap_s": gap,
        "driver.py_cpu_s": sum(c["py_cpu_s"] for c in p["calls"]),
        "driver.result_bytes": tot["result_bytes"],
        "spark.sql_executions": sum(w["n_sql"] for w in wins),
        "spark.jobs": sum(w["n_jobs"] for w in wins),
        "spark.stages": sum(w["n_stages"] for w in wins),
        "spark.job_s": job_s,
        "spark.sched_delay_s": tot["sched_delay_ms"] / 1000.0,
        "jvm.nontask_cpu_s": p["cpu"]["jvm"] - task_cpu,
        "spark.tasks": tot["n_tasks"],
        "exec.run_s": run_s,
        "exec.cpu_s": tot["cpu_ns"] / 1e9,
        "exec.gc_s": tot["gc_ms"] / 1000.0,
        "exec.busy_frac": run_s / (cores * job_s) if job_s else 0.0,
        "scan.input_bytes": tot["input_bytes"],
        "scan.input_rows": tot["input_rows"],
        "scan.passes": tot["input_rows"] / table_rows,
        "shuffle.write_bytes": tot["shuffle_write_bytes"],
        "shuffle.read_bytes": tot["shuffle_read_bytes"],
        "shuffle.fetch_wait_s": tot["fetch_wait_ms"] / 1000.0,
        "spill.disk_bytes": tot["disk_spill_bytes"],
        "pyworker.cpu_s": p["cpu"]["worker"],
        "cache.left_persisted": sum(c["left_persisted"]
                                    for c in p["calls"]),
    }


def fingerprints(log: eventlog.EventLog, p: dict) -> dict:
    """Per call: jobs, task-result bytes shipped to the driver and caches
    left behind — enough to tell the collected branch (few jobs, large
    results) from the distributed one (a job per iteration, small
    results)."""
    out = {}
    for c, w in zip(p["calls"], call_windows(log, p)):
        out[c["name"]] = {"wall_s": c["wall_s"], "jobs": w["n_jobs"],
                          "result_bytes": w["result_bytes"],
                          "input_rows": w["input_rows"],
                          "left_persisted": c["left_persisted"]}
    return out


def spans(log: eventlog.EventLog, passes: list[dict], workload: str,
          seed: int) -> list[dict]:
    """One span per pass, one per call (child of the pass) and one per
    Spark job (child of the call whose interval holds its submission)."""
    out: list[dict] = []

    def add(sid, name, start, end, parent):
        out.append({"id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "workload": workload, "seed": seed})

    for i, p in enumerate(passes):
        pid = f"p{i}"
        add(pid, p["label"], p["start"], p["end"], None)
        for j, (c, w) in enumerate(zip(p["calls"], call_windows(log, p))):
            cid = f"{pid}.c{j}"
            add(cid, c["name"], c["start"], c["end"], pid)
            for job in w["jobs"]:
                add(f"{cid}.j{job.job_id}", f"job {job.job_id}",
                    job.submit_ms / 1000.0, job.end_ms / 1000.0, cid)
    return out


def sql_extra_s(passes: list[dict]) -> float:
    """Median over the paired analyses of (median sql() call − median
    direct call)."""
    walls: dict[str, list[float]] = {}
    for p in passes:
        for c in p["calls"]:
            walls.setdefault(c["name"], []).append(c["wall_s"])
    return statistics.median(
        statistics.median(walls[s]) - statistics.median(walls[d])
        for d, s in SQL_PAIRS)


def layer_metrics(log: eventlog.EventLog, plain: list[dict],
                  traced: list[dict], table_rows: int, cores: int,
                  paired: bool) -> tuple[dict, list[dict]]:
    """The per-layer metrics of a traced run (medians over its traced
    passes) and the ledger of every traced pass.  ``paired`` says whether
    the call list holds the direct/sql() pairs."""
    per_pass = [pass_ledger(log, p, table_rows, cores) for p in traced]
    values = {k: statistics.median(pl[k] for pl in per_pass)
              for k in per_pass[0] if k not in RECORD_ONLY}
    values["trace.overhead_frac"] = (
        statistics.median(p["wall_s"] for p in traced)
        / statistics.median(p["wall_s"] for p in plain) - 1.0)
    values["sql_macros.extra_s"] = sql_extra_s(traced) if paired else 0.0
    return ({k: {"value": v, "unit": UNITS[k]}
             for k, v in sorted(values.items())}, per_pass)
