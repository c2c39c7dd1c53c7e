"""Parse a non-rolling, uncompressed Spark event log into jobs, stages,
tasks and SQL executions, and sum them over time intervals.

The benchmark's own spans (driver-side ``with tracer.span(...)``) give
the intervals; every Spark job is attributed to the span during which
it was submitted. Write jobs are attributed to a layer by the output
directory in the physical plan of the SQL execution that ran them.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

# the output directory of a file write, as the physical plan prints it
_WRITE = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?"
    r"Arguments: (?:file:)?([^,\n]+),")


@dataclass
class Task:
    stage: int
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0
    input_bytes: float = 0.0
    output_bytes: float = 0.0


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)
    execution: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_tasks: dict[int, list[Task]] = field(default_factory=dict)
    # SQL execution id -> output directory of its file write
    outputs: dict[int, str] = field(default_factory=dict)

    # ------------------------------------------------------------ queries
    def jobs_in(self, start_ms: float, end_ms: float) -> list[Job]:
        return [j for j in self.jobs.values()
                if start_ms <= j.submit_ms <= end_ms]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        seen: set[int] = set()
        out: list[Task] = []
        for j in jobs:
            for s in j.stages:
                if s not in seen:
                    seen.add(s)
                    out.extend(self.stage_tasks.get(s, []))
        return out

    def output_of(self, job: Job) -> str:
        """Directory the job's SQL execution writes ("" for no write)."""
        return self.outputs.get(job.execution, "")

    def writes_under(self, job: Job, path: str) -> bool:
        return self.output_of(job).startswith(path.rstrip("/") + "/")


def busy_ms(jobs: list[Job], start_ms: float, end_ms: float) -> float:
    """Length of the union of the jobs' [submit, end] intervals clipped
    to [start, end]: the part of a span during which Spark ran a job."""
    iv = sorted((max(j.submit_ms, start_ms), min(j.end_ms or end_ms, end_ms))
                for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_totals(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Task-metric sums for a set of jobs (seconds and MB)."""
    tasks = log.tasks_of(jobs)
    stages: dict[int, list[float]] = {}
    for t in tasks:
        stages.setdefault(t.stage, []).append(t.run_ms)
    # critical-path stretch: how much longer the slowest task of each
    # stage ran than the stage's mean task (1.0 = perfectly even)
    mx = sum(max(v) for v in stages.values())
    mean = sum(sum(v) / len(v) for v in stages.values())
    mb = 1e6
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "shuffle_read_mb": sum(t.shuffle_read for t in tasks) / mb,
        "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / mb,
        "input_mb": sum(t.input_bytes for t in tasks) / mb,
        "output_mb": sum(t.output_bytes for t in tasks) / mb,
        "task_skew": (mx / mean) if mean > 0 else 1.0,
    }


def _task(ev: dict) -> Task:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Task(
        stage=ev["Stage ID"],
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_read=sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
        output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
    )


def parse(lines) -> EventLog:
    """Parse event-log lines (an open file or a list of strings)."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            ex = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            log.jobs[ev["Job ID"]] = Job(
                id=ev["Job ID"],
                submit_ms=ev.get("Submission Time", 0),
                stages=list(ev.get("Stage IDs", [])),
                execution=int(ex) if ex is not None else None,
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            t = _task(ev)
            log.stage_tasks.setdefault(t.stage, []).append(t)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            m = _WRITE.search(ev.get("physicalPlanDescription", ""))
            if m:
                log.outputs[ev["executionId"]] = m.group(1).strip()
    return log


def load(path) -> EventLog:
    with open(path) as f:
        return parse(f)
