"""Spark event-log reader: the engine's Spark-side layers, per timed op.

Reads one uncompressed, non-rolling JSON event log (one SparkContext),
keeps only the jobs whose ``spark.job.description`` names a benchmark op,
and sums the task-end metrics of each op's stages:

- the task metrics (executor run and CPU time, deserialize time, result
  serialization, GC, shuffle write bytes/time, shuffle fetch wait,
  memory and disk spill);
- the Python SQL metrics Spark attaches to the task's accumulables (ms
  and bytes): "time to start Python workers", "time to initialize
  Python workers" (counted by the worker from the moment it waits for
  the task, so a reused worker's idle time between tasks is in it),
  "time to run Python workers" (reading input, running the function,
  writing output), "data sent to Python workers" and "data returned
  from Python workers".

Job start/end timestamps give each op's time inside Spark jobs, so the
driver-only time and the idle task slots can be derived from the op's
wall clock (see :func:`op_accounting`).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
_PY_ACCUMS = (PY_BOOT, PY_INIT, PY_RUN, PY_SENT, PY_RECV)


def find_log(log_dir: Path) -> Path:
    """The one finished event log in ``log_dir``."""
    logs = [p for p in log_dir.iterdir()
            if p.is_file() and not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {[p.name for p in log_dir.iterdir()]}")
    return logs[0]


def _task_record(event: dict) -> dict:
    info = event["Task Info"]
    tm = event.get("Task Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    duration = info["Finish Time"] - info["Launch Time"]
    run = tm.get("Executor Run Time", 0)
    deser = tm.get("Executor Deserialize Time", 0)
    ser = tm.get("Result Serialization Time", 0)
    getting = (info["Finish Time"] - info["Getting Result Time"]
               if info.get("Getting Result Time") else 0)
    rec = {
        "stage": event["Stage ID"],
        "duration_ms": duration,
        "run_ms": run,
        "cpu_ns": tm.get("Executor CPU Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "sched_delay_ms": max(duration - run - deser - ser - getting, 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_write_ns": sw.get("Shuffle Write Time", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
    }
    for name in _PY_ACCUMS:
        rec[name] = 0
    for acc in info.get("Accumulables", []):
        if acc.get("Name") in _PY_ACCUMS:
            rec[acc["Name"]] += int(acc.get("Update") or 0)
    return rec


def read_ops(log_path: Path, prefix: str) -> dict[str, dict]:
    """description → {"jobs_wall_ms", "tasks": [task records]} for every
    job whose description starts with ``prefix`` (jobs sharing one
    description are one op)."""
    stage_op: dict[int, str] = {}
    job_op: dict[int, str] = {}
    job_start: dict[int, int] = {}
    ops: dict[str, dict] = defaultdict(lambda: {"jobs_wall_ms": 0, "tasks": []})
    with open(log_path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                if desc.startswith(prefix):
                    job_op[ev["Job ID"]] = desc
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    for sid in ev["Stage IDs"]:
                        stage_op[sid] = desc
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_op:
                ops[job_op[ev["Job ID"]]]["jobs_wall_ms"] += (
                    ev["Completion Time"] - job_start[ev["Job ID"]])
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_op:
                ops[stage_op[ev["Stage ID"]]]["tasks"].append(_task_record(ev))
    return dict(ops)


def op_accounting(op: dict, wall_s: float, slots: int) -> dict:
    """One op's Spark-side layers in seconds of its wall clock.

    Task-summed times are divided by the ``slots`` task slots, so that
    ``driver_s + (task time + idle slot time) / slots`` equals the op's
    wall: ``driver_s`` is the wall outside any job, ``idle_slot_s`` the
    slot time no task used while a job ran (stragglers, skew, stage
    barriers)."""
    tasks = op["tasks"]
    jobs_wall = op["jobs_wall_ms"] / 1e3
    dur = sum(t["duration_ms"] for t in tasks) / 1e3
    run = sum(t["run_ms"] for t in tasks) / 1e3
    py_total = sum(t[PY_RUN] for t in tasks) / 1e3
    by_stage: dict[int, list] = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["duration_ms"])
    widest = max(by_stage.values(), key=len) if by_stage else [0]
    med = statistics.median(widest)
    return {
        "spark.driver_s": wall_s - jobs_wall,
        "spark.idle_slot_s": (slots * jobs_wall - dur) / slots,
        "spark.task_overhead_s": (dur - run) / slots,
        "spark.jvm_side_s": (run - py_total) / slots,
        "spark.python_run_s": py_total / slots,
        "spark.python_boot_s": sum(t[PY_BOOT] for t in tasks) / 1e3 / slots,
        "spark.python_init_s": sum(t[PY_INIT] for t in tasks) / 1e3 / slots,
        "spark.python_bytes_sent": sum(t[PY_SENT] for t in tasks),
        "spark.python_bytes_received": sum(t[PY_RECV] for t in tasks),
        "spark.executor_run_s": run / slots,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9 / slots,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3 / slots,
        "spark.scheduler_delay_s": sum(t["sched_delay_ms"] for t in tasks) / 1e3 / slots,
        "spark.tasks": len(tasks),
        "spark.task_skew": (max(widest) / med) if med else 1.0,
        "spark.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "spark.shuffle_write_s": sum(t["shuffle_write_ns"] for t in tasks) / 1e9 / slots,
        "spark.shuffle_fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1e3 / slots,
        "spark.spill_bytes": sum(t["spill_bytes"] for t in tasks),
    }
