"""Spark event-log parsing for the traced run.

Reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled`` and attributes every stage, and so every
task, to the span whose id is in the job description the stage was
submitted under (``pb:<span id>``, set by trace.Recorder).  Driver-side
SQL metrics (files read) are attributed through the SQL execution id
the job carried.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

from perfbench.trace import DESC_PREFIX

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class SpanStats:
    jobs: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    files_read: float = 0.0
    task_intervals: list = field(default_factory=list)

    def add(self, other: "SpanStats") -> None:
        for k in ("jobs", "tasks", "task_cpu_s", "gc_s", "input_mb",
                  "shuffle_write_mb", "spill_mb", "files_read"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_intervals += other.task_intervals


def _span_of(props: dict | None) -> int | None:
    desc = (props or {}).get("spark.job.description") or ""
    if desc.startswith(DESC_PREFIX):
        return int(desc[len(DESC_PREFIX):])
    return None


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metrics(child, out)


def find_log(log_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if os.path.isfile(p) and not p.endswith(".crc")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(logs)}")
    return logs[0]


def parse(path: str) -> dict[int, SpanStats]:
    """Span id -> aggregated task and job statistics."""
    stats: dict[int, SpanStats] = {}
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    acc_names: dict[int, str] = {}
    driver_updates: list[tuple[int, list]] = []

    def get(span: int) -> SpanStats:
        return stats.setdefault(span, SpanStats())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                span = _span_of(ev.get("Properties"))
                if span is None:
                    continue
                get(span).jobs += 1
                eid = (ev.get("Properties") or {}).get(
                    "spark.sql.execution.id")
                if eid is not None:
                    exec_span.setdefault(int(eid), span)
            elif kind == "SparkListenerStageSubmitted":
                span = _span_of(ev.get("Properties"))
                if span is not None:
                    stage_span[ev["Stage Info"]["Stage ID"]] = span
            elif kind == "SparkListenerTaskEnd":
                span = stage_span.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if span is None or not tm:
                    continue
                s = get(span)
                info = ev["Task Info"]
                s.tasks += 1
                s.task_intervals.append((info["Launch Time"] / 1000.0,
                                         info["Finish Time"] / 1000.0))
                s.task_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                s.gc_s += tm.get("JVM GC Time", 0) / 1000.0
                s.input_mb += tm.get("Input Metrics", {}).get(
                    "Bytes Read", 0) / 2**20
                s.shuffle_write_mb += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0) / 2**20
                s.spill_mb += (tm.get("Memory Bytes Spilled", 0)
                               + tm.get("Disk Bytes Spilled", 0)) / 2**20
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev.get("sparkPlanInfo", {}), acc_names)
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                driver_updates.append((ev["executionId"],
                                       ev.get("accumUpdates", [])))
    for eid, updates in driver_updates:
        span = exec_span.get(eid)
        if span is None:
            continue
        for acc_id, value in updates:
            if acc_names.get(acc_id) == "number of files read":
                get(span).files_read += value
    return stats
