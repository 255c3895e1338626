"""Stage and task metrics from Spark's JSON event log.

The traced run switches the event log on (uncompressed, one file per
application). After the session stops, this module reads job starts and
task ends and sums executor metrics over a chosen set of jobs. Each task
belongs to its stage, and each stage to the first job that lists it (a
later job that reuses a shuffle skips the stage).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Task:
    stage: int
    duration_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    input_bytes: int


@dataclass
class EventLog:
    job_group: dict[int, str | None] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


def find(log_dir: Path) -> Path:
    """The one application log in log_dir (the session has stopped, so it
    is complete and no longer ``.inprogress``; dot-files are Hadoop
    checksums)."""
    logs = [p for p in Path(log_dir).iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


def parse(path: Path) -> EventLog:
    log = EventLog()
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                log.job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for stage in ev["Stage IDs"]:
                    log.stage_job.setdefault(stage, job)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                log.tasks.append(
                    Task(
                        stage=ev["Stage ID"],
                        duration_ms=info["Finish Time"] - info["Launch Time"],
                        cpu_ns=m.get("Executor CPU Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        spill_bytes=m.get("Disk Bytes Spilled", 0),
                        input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    )
                )
    return log


def summarize(log: EventLog, jobs: set[int]) -> dict[str, float]:
    """Executor totals over the tasks of the given jobs. ``task_skew`` is
    max over median task time in the worst stage with two or more tasks
    (1.0 when no stage has two)."""
    tasks = [t for t in log.tasks if log.stage_job.get(t.stage) in jobs]
    by_stage: dict[int, list[int]] = defaultdict(list)
    for t in tasks:
        by_stage[t.stage].append(t.duration_ms)
    skew = 1.0
    for durations in by_stage.values():
        med = statistics.median(durations)
        if len(durations) >= 2 and med > 0:
            skew = max(skew, max(durations) / med)
    return {
        "cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / 1e6,
        "spill_mb": sum(t.spill_bytes for t in tasks) / 1e6,
        "input_mb": sum(t.input_bytes for t in tasks) / 1e6,
        "task_skew": skew,
        "tasks": len(tasks),
    }
