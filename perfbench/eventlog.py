"""Spark event-log reader: executor-side task metrics per job group.

Each stage is attributed to exactly one job group, the ``spark.jobGroup.id``
on its ``SparkListenerStageSubmitted`` properties, and its task metrics are
summed once. A stage that several jobs list (a shared or skipped stage) is
therefore never counted twice, and a skipped stage, which is never
submitted, counts nothing.

Python-worker cost is read from the PySpark SQL metrics each task reports
among its accumulables, by display name. Timing metrics are milliseconds,
size metrics bytes.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, fields

# display name -> GroupMetrics field
PYTHON_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_recv_bytes",
}


@dataclass
class GroupMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_ns: int = 0
    run_ms: int = 0
    duration_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python_boot_ms: int = 0
    python_init_ms: int = 0
    python_run_ms: int = 0
    python_sent_bytes: int = 0
    python_recv_bytes: int = 0

    def add(self, other: "GroupMetrics") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _events(lines):
    for line in lines:
        try:
            yield json.loads(line)
        except ValueError:
            continue  # the in-progress tail line of a live log


def parse(lines) -> dict[str, GroupMetrics]:
    """Sum task metrics per job group over event-log ``lines``.

    Stages and tasks whose group is unset land under ``""``."""
    group_of_stage: dict[int, str] = {}
    per_stage: dict[int, GroupMetrics] = defaultdict(GroupMetrics)
    out: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    for ev in _events(lines):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            out[(ev.get("Properties") or {}).get("spark.jobGroup.id", "")].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid not in group_of_stage:
                per_stage[sid].stages += 1
            group_of_stage[sid] = (ev.get("Properties") or {}).get(
                "spark.jobGroup.id", ""
            )
        elif kind == "SparkListenerTaskEnd":
            s = per_stage[ev["Stage ID"]]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            s.tasks += 1
            s.duration_ms += info.get("Finish Time", 0) - info.get("Launch Time", 0)
            s.cpu_ns += m.get("Executor CPU Time", 0)
            s.run_ms += m.get("Executor Run Time", 0)
            s.gc_ms += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            s.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            s.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables") or ():
                name = PYTHON_METRICS.get(acc.get("Name"))
                if name is not None:
                    setattr(s, name, getattr(s, name) + int(float(acc.get("Update", 0))))
    for sid, s in per_stage.items():
        out[group_of_stage.get(sid, "")].add(s)
    return dict(out)


def parse_file(path: str) -> dict[str, GroupMetrics]:
    with open(path) as fh:
        return parse(fh)
