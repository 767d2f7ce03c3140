"""Reader for an uncompressed Spark event log (``spark.eventLog.compress
=false``; Spark 4.1 writes zstd by default and no Python zstd reader is
assumed).

Turns the JSON-lines log into jobs and stages keyed by the job group that
launched them, so spans that set a job group get their jobs, executor CPU,
shuffle, spill, task skew and input records, and any time interval can be
split into time with and without a Spark job running.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    id: int
    group: str | None = None
    operators: list[str] = field(default_factory=list)
    cpu_ns: int = 0
    run_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0
    records_read: int = 0
    bytes_written: int = 0
    task_ms: list[int] = field(default_factory=list)

    @property
    def skew(self) -> float:
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 1.0


@dataclass
class Job:
    id: int
    group: str | None
    start: float        # epoch seconds
    end: float = 0.0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def jobs_in(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs.values() if j.group in groups]

    def stages_in(self, groups: set[str]) -> list[Stage]:
        return [s for s in self.stages.values() if s.group in groups and s.task_ms]

    def busy_s(self, start: float, end: float) -> float:
        """Seconds of [start, end] during which at least one job ran."""
        return covered_s([(j.start, j.end) for j in self.jobs.values()], start, end)


def covered_s(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


_SCOPE_NUM = re.compile(r"\s*\(\d+\)$")


def _operators(stage_info: dict) -> list[str]:
    names = []
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            name = _SCOPE_NUM.sub("", json.loads(scope).get("name", ""))
            if name and name not in names:
                names.append(name)
    return names


def read(path: str) -> EventLog:
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                                             ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                stage.group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage.operators = _operators(info)
            elif kind == "SparkListenerTaskEnd":
                metrics = ev.get("Task Metrics")
                if not metrics:
                    continue
                stage = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                stage.cpu_ns += metrics.get("Executor CPU Time", 0)
                stage.run_ms += metrics.get("Executor Run Time", 0)
                stage.task_ms.append(metrics.get("Executor Run Time", 0))
                stage.shuffle_write += metrics.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                stage.spill += metrics.get("Disk Bytes Spilled", 0)
                stage.records_read += metrics.get("Input Metrics", {}).get("Records Read", 0)
                stage.bytes_written += metrics.get("Output Metrics", {}).get("Bytes Written", 0)
    return log
