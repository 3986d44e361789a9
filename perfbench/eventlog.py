"""Per-layer counters from Spark's own uncompressed event log.

The benchmark never edits the package to trace it. It enables
``spark.eventLog`` for a traced run and reads the JSON-lines file Spark
writes. Three keys tie a Spark job to a benchmark span:

- ``spark.jobGroup.id``: the benchmark sets one job group per operation;
- ``spark.sql.execution.id``: a SQL execution whose plan writes
  ``<dir>/<name>.parquet`` is attributed to output ``<name>``, and its
  start and end times bound that write;
- job submission/completion times, which give the part of a span's wall
  time that no job of the span covered (``driver_s``).

A job is a Python job when one of its stages runs an RDD scope named
after a Python exec node (Arrow UDF, mapInPandas, ...), i.e. when rows
cross the JVM/Python boundary.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

PYTHON_SCOPES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
# the arguments of InsertIntoHadoopFsRelationCommand: path, overwrite flag, format
_PARQUET_OUT = re.compile(r"Arguments: \S*/([\w.-]+)\.parquet, (?:true|false), Parquet")


@dataclass
class Job:
    job_id: int
    group: str | None
    execution_id: int | None
    start_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)
    python: bool = False
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    # execution id -> root execution id
    roots: dict[int, int]
    # root execution id -> name of the parquet output it writes
    outputs: dict[int, str]
    # execution id -> (start ms, end ms)
    windows: dict[int, tuple[int, int | None]]

    def output_of(self, job: Job) -> str | None:
        if job.execution_id is None:
            return None
        return self.outputs.get(self.roots.get(job.execution_id, job.execution_id))


def _python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope") or ""
        if any(f'"name":"{s}' in scope for s in PYTHON_SCOPES):
            return True
    return False


def parse(path: str) -> EventLog:
    """Read one event-log file into per-job counters."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    roots: dict[int, int] = {}
    outputs: dict[int, str] = {}
    windows: dict[int, tuple[int, int | None]] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                job = Job(
                    job_id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    execution_id=int(exec_id) if exec_id is not None else None,
                    start_ms=ev["Submission Time"],
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
                job.python = any(_python_stage(s) for s in ev.get("Stage Infos", []))
                jobs[job.job_id] = job
                # a stage shared with an earlier job runs (if at all) in
                # the latest job that lists it
                for sid in job.stage_ids:
                    stage_job[sid] = job.job_id
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                metrics = ev.get("Task Metrics")
                if job is None or not metrics:
                    continue
                job.tasks += 1
                job.run_ms += metrics.get("Executor Run Time", 0)
                job.cpu_ns += metrics.get("Executor CPU Time", 0)
                job.gc_ms += metrics.get("JVM GC Time", 0)
                job.shuffle_bytes += (metrics.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
            elif kind == _SQL_START:
                exec_id = ev["executionId"]
                roots[exec_id] = ev.get("rootExecutionId", exec_id)
                windows[exec_id] = (ev["time"], None)
                _note_output(outputs, roots[exec_id], ev.get("physicalPlanDescription", ""))
            elif kind == _SQL_END:
                exec_id = ev["executionId"]
                if exec_id in windows:
                    windows[exec_id] = (windows[exec_id][0], ev["time"])
            elif kind == _SQL_UPDATE:
                exec_id = ev["executionId"]
                _note_output(
                    outputs, roots.get(exec_id, exec_id), ev.get("physicalPlanDescription", "")
                )
    return EventLog(jobs=jobs, roots=roots, outputs=outputs, windows=windows)


def _note_output(outputs: dict[int, str], root: int, plan: str) -> None:
    m = _PARQUET_OUT.search(plan)
    if m and root not in outputs:
        outputs[root] = m.group(1)


def covered_ms(jobs: list[Job]) -> float:
    """Milliseconds during which at least one of ``jobs`` ran."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((j.start_ms, j.end_ms) for j in jobs if j.end_ms is not None):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def summarize(jobs: list[Job], wall_s: float) -> dict[str, float]:
    """The counters of one span: its jobs, plus the driver residual, the
    part of the span's wall time during which none of its jobs ran."""
    return {
        "wall_s": wall_s,
        "jobs": len(jobs),
        "python_jobs": sum(j.python for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "exec_run_s": sum(j.run_ms for j in jobs) / 1e3,
        "exec_cpu_s": sum(j.cpu_ns for j in jobs) / 1e9,
        "gc_s": sum(j.gc_ms for j in jobs) / 1e3,
        "shuffle_bytes": sum(j.shuffle_bytes for j in jobs),
        "driver_s": max(0.0, wall_s - covered_ms(jobs) / 1e3),
    }
