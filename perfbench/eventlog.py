"""Offline reader for an uncompressed Spark event log.

Breaks a run down into jobs and stages: for each job its group (the
benchmark tags every traced call with one), its streaming batch id, its
SQL execution and that execution's output path; for each stage its task
count, executor run time, shuffle bytes written and bytes spilled.
Streaming write jobs are attributed to a sink by their output path.

Usage: python3 perfbench/eventlog.py <event-log file or rolling-log directory>
"""

from __future__ import annotations

import json
import os
import re
import sys
from dataclasses import dataclass, field

_WRITE_PATH = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: ([^,\s]+)")
_ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
}


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int = 0
    group: str | None = None
    batch_id: int | None = None
    execution_id: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    tasks: int = 0
    run_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    write_paths: dict[int, str] = field(default_factory=dict)

    def output_path(self, job: Job) -> str | None:
        if job.execution_id is None:
            return None
        return self.write_paths.get(job.execution_id)

    def summarize(self, jobs: list[Job]) -> dict[str, float]:
        """Counts and executor totals of ``jobs`` (completed stages only)."""
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "job_s": 0.0}
        for j in jobs:
            out["job_s"] += max(0, j.end_ms - j.start_ms) / 1000
            for s in j.stage_ids:
                st = self.stages.get(s)
                if st is None:  # skipped: its output was reused
                    continue
                out["stages"] += 1
                out["tasks"] += st.tasks
                out["executor_run_s"] += st.run_ms / 1000
                out["shuffle_write_bytes"] += st.shuffle_write
                out["spill_bytes"] += st.spill
        return out


def _int(v) -> int | None:
    return None if v in (None, "") else int(v)


def _files(path: str) -> list[str]:
    """The event files of a log: one file, or the parts of a rolling log
    directory (``events_<n>_<app>``) in order."""
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]


def _events(path: str):
    for name in _files(path):
        with open(name) as fh:
            for line in fh:
                yield json.loads(line)


def read(path: str) -> EventLog:
    """Read a log file, or a rolling log directory."""
    log = EventLog()
    for ev in _events(path):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                start_ms=ev["Submission Time"],
                group=props.get("spark.jobGroup.id"),
                batch_id=_int(props.get("streaming.sql.batchId")),
                execution_id=_int(props.get("spark.sql.execution.id")),
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = Stage(tasks=info.get("Number of Tasks", 0))
            for acc in info.get("Accumulables", []):
                attr = _ACCUMS.get(acc.get("Name"))
                if attr:
                    setattr(st, attr, getattr(st, attr) + int(acc["Value"]))
            log.stages[info["Stage ID"]] = st
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            m = _WRITE_PATH.search(ev.get("physicalPlanDescription", ""))
            if m:
                log.write_paths[ev["executionId"]] = m.group(1)
    return log


def sink_of(path: str | None, lake: str) -> str | None:
    """The sink a write job belongs to: the first directory under
    ``lake`` of its output path (``file:`` URIs and plain paths)."""
    if not path:
        return None
    path = re.sub(r"^file:(//)?", "", path)
    rel = os.path.relpath(path, lake)
    if rel.startswith(".."):
        return None
    return rel.split(os.sep)[0]


def main(argv: list[str]) -> int:
    log = read(argv[1])
    groups: dict[str, list[Job]] = {}
    for j in log.jobs.values():
        key = j.group or (f"batch {j.batch_id}" if j.batch_id is not None else "-")
        groups.setdefault(key, []).append(j)
    for key in sorted(groups):
        print(key, json.dumps(log.summarize(groups[key])))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
