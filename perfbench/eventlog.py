"""Plain-Python reader for Spark's uncompressed JSON event log.

Spark 4.1 writes a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory
(one JSON event per line); a single-file log is read the same way. Every
stage carries the ``spark.job.description`` of the thread that submitted
it, which is how tasks are attributed to the benchmark's spans.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_PART = re.compile(r"^events_(\d+)_")


@dataclass
class TaskTotals:
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    jvm_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "TaskTotals") -> None:
        for k in ("tasks", "failed_tasks", "task_s", "jvm_cpu_s",
                  "shuffle_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    """Per job description: job count and summed task metrics."""

    jobs: dict[str | None, int] = field(default_factory=dict)
    by_desc: dict[str | None, TaskTotals] = field(default_factory=dict)

    def totals(self, keep) -> tuple[int, TaskTotals]:
        """(jobs, task totals) over descriptions for which ``keep(desc)``."""
        jobs = sum(n for d, n in self.jobs.items() if keep(d))
        t = TaskTotals()
        for d, tt in self.by_desc.items():
            if keep(d):
                t.add(tt)
        return jobs, t


def event_files(log_dir: str) -> list[str]:
    """The event files under ``log_dir`` in write order (rolling parts by
    index; in-progress and single-file logs included)."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith("appstatus_") or f.endswith(".crc"):
                continue
            m = _PART.match(f)
            out.append(((root, int(m.group(1)) if m else 0, f),
                        os.path.join(root, f)))
    return [p for _k, p in sorted(out)]


def parse(log_dir: str) -> EventLog:
    log = EventLog()
    stage_desc: dict[int, str | None] = {}
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description")
                    log.jobs[desc] = log.jobs.get(desc, 0) + 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description")
                    stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev.get("Stage ID"))
                    t = log.by_desc.setdefault(desc, TaskTotals())
                    t.tasks += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    info = ev.get("Task Info") or {}
                    if reason != "Success" or info.get("Failed"):
                        t.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    t.task_s += m.get("Executor Run Time", 0) / 1e3
                    t.jvm_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    t.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written", 0)
                    t.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return log
