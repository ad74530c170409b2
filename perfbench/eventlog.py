"""Spark event-log reader: task metrics grouped by job description.

The traced run labels every Spark job with ``setJobDescription(<layer>)``;
Spark copies the description into the properties of each job and stage it
submits. This module reads a JSON-lines event log and answers, per label:
jobs, tasks, executor run and CPU time, GC time, shuffle bytes written,
shuffle rows read, spill and input rows.
"""
from __future__ import annotations

import json
from dataclasses import dataclass, field

DESC = "spark.job.description"


@dataclass
class Task:
    stage: int
    label: str
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_records: int = 0
    input_records: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, str] = field(default_factory=dict)  # job id -> label
    stages: dict[int, str] = field(default_factory=dict)  # stage id -> label
    tasks: list[Task] = field(default_factory=list)

    def job_count(self, label: str) -> int:
        return sum(1 for v in self.jobs.values() if v == label)

    def tasks_of(self, label: str) -> list[Task]:
        return [t for t in self.tasks if t.label == label]

    def stages_of(self, label: str) -> dict[int, list[Task]]:
        out: dict[int, list[Task]] = {}
        for t in self.tasks_of(label):
            out.setdefault(t.stage, []).append(t)
        return out

    def total(self, label: str, attr: str) -> int:
        return sum(getattr(t, attr) for t in self.tasks_of(label))


def _label(props: dict | None) -> str:
    return (props or {}).get(DESC) or ""


def _task(ev: dict, label: str) -> Task:
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    inp = m.get("Input Metrics") or {}
    return Task(
        stage=int(ev.get("Stage ID", -1)),
        label=label,
        run_ms=int(m.get("Executor Run Time", 0)),
        cpu_ns=int(m.get("Executor CPU Time", 0)),
        gc_ms=int(m.get("JVM GC Time", 0)),
        shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
        shuffle_read_records=int(sr.get("Total Records Read", 0)),
        input_records=int(inp.get("Records Read", 0)),
        spill_bytes=int(m.get("Disk Bytes Spilled", 0)),
    )


def parse(path: str) -> EventLog:
    """Read one application's (uncompressed, non-rolling) event log file."""
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                log.jobs[int(ev["Job ID"])] = _label(ev.get("Properties"))
            elif kind == "SparkListenerStageSubmitted":
                sid = int(ev["Stage Info"]["Stage ID"])
                log.stages[sid] = _label(ev.get("Properties"))
            elif kind == "SparkListenerTaskEnd":
                sid = int(ev.get("Stage ID", -1))
                log.tasks.append(_task(ev, log.stages.get(sid, "")))
    return log
