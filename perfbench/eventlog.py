"""Spark event-log parser: per-job-group engine counters.

Reads an uncompressed, non-rolling JSON-lines event log
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``)
and folds jobs, stages and tasks into the job group that submitted
them.  The benchmark gives every layer call its own group
(``<layer>|<call>``), so each record is the engine-side cost of one
call.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # (submission, completion) of every completed stage, epoch seconds
    stage_spans: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: GroupStats) -> None:
        for name in (
            "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        ):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.stage_spans.extend(other.stage_spans)


def parse(lines) -> dict[str, GroupStats]:
    """Fold an event log (an iterable of JSON lines) into job-group
    records.  Jobs submitted outside any group land under ``""``."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        event = json.loads(line)
        kind = event["Event"]
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get(GROUP_KEY) or ""
            groups.setdefault(group, GroupStats()).jobs += 1
            for sid in event["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = event["Stage Info"]
            g = groups.setdefault(stage_group.get(info["Stage ID"], ""), GroupStats())
            g.stages += 1
            if "Submission Time" in info and "Completion Time" in info:
                g.stage_spans.append(
                    (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            g = groups.setdefault(stage_group.get(event["Stage ID"], ""), GroupStats())
            g.tasks += 1
            m = event.get("Task Metrics") or {}
            g.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            read = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0
            )
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return groups


def read(path: str) -> dict[str, GroupStats]:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)


def busy_seconds(spans: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``spans`` clipped to ``[start, end]``."""
    clipped = sorted(
        (max(s, start), min(e, end)) for s, e in spans if e > start and s < end
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(stats: GroupStats, start: float, end: float) -> float:
    """Wall time of a call during which none of its stages ran: the
    per-job fixed cost on the driver (planning, scheduling, commit)."""
    return max(0.0, (end - start) - busy_seconds(stats.stage_spans, start, end))
