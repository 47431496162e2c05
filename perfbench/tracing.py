"""Per-layer numbers for the traced run.

Spans are taken from outside the program: a timing proxy around the
class-level ``SparkValidationEngine.validate`` labels each operation's Spark
jobs through ``spark.job.description``, and Spark's own event log gives the
jobs' intervals, tasks, executor CPU, input records and shuffle bytes.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager

from perfbench import procstats

_DESC = "perfbench op={}"
_DESC_RE = re.compile(r"^perfbench op=(\d+)$")


class Tracer:
    """Times the engine layer of each traced operation and labels its jobs."""

    def __init__(self, spark) -> None:
        from great_expectations_spark.engine import SparkValidationEngine

        self.sc = spark.sparkContext
        self.ops: dict[int, dict] = {}
        self._op = None
        self._cls = SparkValidationEngine
        self._orig = SparkValidationEngine.validate
        tracer = self

        def validate(engine, *args, **kwargs):
            rec = tracer.ops.get(tracer._op)
            if rec is None:
                return tracer._orig(engine, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return tracer._orig(engine, *args, **kwargs)
            finally:
                rec["validate_calls"] += 1
                rec["validate_s"] += time.perf_counter() - t0

        SparkValidationEngine.validate = validate

    def close(self) -> None:
        self._cls.validate = self._orig

    @contextmanager
    def op(self, i: int):
        """Trace operation ``i``: its wall interval, engine time, Python
        worker CPU and the description its Spark jobs carry."""
        rec = {"validate_calls": 0, "validate_s": 0.0}
        self.ops[i] = rec
        self._op = i
        self.sc.setJobDescription(_DESC.format(i))
        py0 = procstats.daemon_cpu_s()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["python_worker_cpu_s"] = procstats.daemon_cpu_s() - py0
            self.sc.setJobDescription(None)
            self._op = None


def compile_s(workload, i: int) -> float:
    """Wall time of a fresh planner's compile for operation ``i``'s suite;
    raises if compiling started a Spark job."""
    from great_expectations_spark.plans.planner import SuitePlanner

    df, suite, kwargs = workload.compile_args(i)
    sc = workload.spark.sparkContext
    sc.setJobGroup("perfbench-compile", "perfbench compile")
    try:
        t0 = time.perf_counter()
        SuitePlanner(df, suite, spark=workload.spark, **kwargs).compile()
        dt = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    jobs = sc.statusTracker().getJobIdsForGroup("perfbench-compile")
    if jobs:
        raise RuntimeError(f"planner compile started Spark jobs {list(jobs)}")
    return dt


def _event_files(log_dir: str) -> list[str]:
    """Event files in order. Spark 4 writes a rolling log: a directory
    ``eventlog_v2_<app>`` holding ``events_<n>_<app>`` files."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not rolled:
        raise RuntimeError(f"no rolling event log (eventlog_v2_*/events_*) under {log_dir}")
    return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _no_jobs() -> dict:
    return {"jobs": 0, "tasks": 0, "cpu_ns": 0, "input_rows": 0, "shuffle_bytes": 0, "intervals": []}


def spark_per_op(log_dir: str) -> dict[int, dict]:
    """Operation number -> its Spark jobs' counts and times, from the event log."""
    jobs: dict[int, dict] = {}
    stage_op: dict[int, int] = {}
    ops: dict[int, dict] = {}

    def rec(i: int) -> dict:
        return ops.setdefault(i, _no_jobs())

    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    m = _DESC_RE.match((ev.get("Properties") or {}).get("spark.job.description") or "")
                    if m:
                        jobs[ev["Job ID"]] = {"op": int(m.group(1)), "start": ev["Submission Time"]}
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    job = jobs[ev["Job ID"]]
                    r = rec(job["op"])
                    r["jobs"] += 1
                    r["intervals"].append((job["start"] / 1e3, ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerStageSubmitted":
                    m = _DESC_RE.match((ev.get("Properties") or {}).get("spark.job.description") or "")
                    if m:
                        stage_op[ev["Stage Info"]["Stage ID"]] = int(m.group(1))
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_op:
                    r = rec(stage_op[ev["Stage ID"]])
                    tm = ev.get("Task Metrics") or {}
                    r["tasks"] += 1
                    r["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    r["input_rows"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
                    r["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return ops


UNITS = {
    "planner.compile_s": "s",
    "planner.driver_self_s": "s",
    "spark.jobs_per_op": "count",
    "spark.input_rows_per_op": "rows",
    "spark.tasks_per_op": "count",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.executor_cpu_s_per_op": "s",
    "spark.job_wall_s_per_op": "s",
    "spark.busy_cores": "cores",
    "python_worker.cpu_s_per_op": "s",
    "engine.validate_calls_per_op": "count",
    "engine.validate_s_per_op": "s",
    "setup.session_s": "s",
    "setup.input_s": "s",
    "setup.cold_op_s": "s",
}
# counts that must repeat exactly from one operation (and run) to the next
EXACT = ("spark.jobs_per_op", "spark.input_rows_per_op", "spark.tasks_per_op", "engine.validate_calls_per_op")


def layer_metrics(
    traced: dict[int, dict], spark_ops: dict[int, dict], compile_times: list[float]
) -> tuple[dict, list[str]]:
    """Per-layer medians over the traced operations, and the exact counts
    that varied between them."""
    from statistics import median

    rows = []
    for i, t in sorted(traced.items()):
        s = spark_ops.get(i) or _no_jobs()
        wall = t["end"] - t["start"]
        job_wall = _union_s(s["intervals"])
        cpu = s["cpu_ns"] / 1e9
        rows.append(
            {
                "planner.driver_self_s": wall - job_wall,
                "spark.jobs_per_op": s["jobs"],
                "spark.input_rows_per_op": s["input_rows"],
                "spark.tasks_per_op": s["tasks"],
                "spark.shuffle_bytes_per_op": s["shuffle_bytes"],
                "spark.executor_cpu_s_per_op": cpu,
                "spark.job_wall_s_per_op": job_wall,
                "spark.busy_cores": cpu / job_wall if job_wall else 0.0,
                "python_worker.cpu_s_per_op": t["python_worker_cpu_s"],
                "engine.validate_calls_per_op": t["validate_calls"],
                "engine.validate_s_per_op": t["validate_s"],
            }
        )
    # exact counts are reported as counted (a median of an even number of
    # samples would turn them into floats)
    out = {k: rows[0][k] if k in EXACT else median(r[k] for r in rows) for k in rows[0]}
    out["planner.compile_s"] = median(compile_times)
    varying = [k for k in EXACT if len({r[k] for r in rows}) > 1]
    return out, varying
