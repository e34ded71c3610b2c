"""Reader for Spark's JSON event log, summing task metrics per job group.

A traced benchmark run tags every Spark job with a job group
(``SparkContext.setJobGroup``) naming the phase that ran it, and enables
the event log uncompressed (``spark.eventLog.compress=false``). This module
reads the log back and sums, per job group, what the executors reported:

* task metrics: executor run/CPU time, JVM GC time, shuffle read/write
  bytes, memory and disk spill;
* SQL accumulables by name, such as ``time to run Python workers`` or
  ``data sent to Python workers``. Their unit comes from the metric type
  that the SQL plan events declare (``timing`` is ms, ``nsTiming`` is ns,
  ``size`` is bytes).

Both layouts Spark writes are accepted: a single ``<app-id>`` file (or
``.inprogress``) and the rolling ``eventlog_v2_<app-id>/events_<n>_<app-id>``
directory, whose parts are read in index order.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

# SQL accumulables summed per group, keyed by the name Spark gives them
PYTHON_ACCUMS = (
    "time to run Python workers",
    "time to initialize Python workers",
    "time to start Python workers",
    "data sent to Python workers",
    "data returned from Python workers",
)

# metric type -> factor to seconds (times) or bytes (sizes)
_TYPE_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}


@dataclass
class GroupMetrics:
    """Summed executor metrics for the jobs of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # task run times (s) per stage, for skew
    stage_task_s: dict[object, list[float]] = field(default_factory=dict)
    # SQL accumulables in seconds (times) or bytes (sizes)
    accums: dict[str, float] = field(default_factory=dict)

    def task_skew(self) -> float:
        """Max over stages with >1 task of (max task time / median task time)."""
        worst = 1.0
        for times in self.stage_task_s.values():
            if len(times) < 2:
                continue
            s = sorted(times)
            mid = len(s) // 2
            med = s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2
            if med > 0:
                worst = max(worst, s[-1] / med)
        return worst


def log_apps(path: str) -> list[list[str]]:
    """Event-log files under ``path`` (a log file, a rolling-log directory,
    or a directory holding either), one list per application, each list
    in read order."""
    if os.path.isfile(path):
        return [[path]]
    name = os.path.basename(path.rstrip("/"))
    if name.startswith("eventlog_v2_"):
        parts = [p for p in os.listdir(path) if p.startswith("events_")]
        parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", p).group(1)))
        return [[os.path.join(path, p) for p in parts]]
    apps: list[list[str]] = []
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if entry.startswith("eventlog_v2_") and os.path.isdir(full):
            apps.extend(log_apps(full))
        elif os.path.isfile(full) and entry.startswith(("local-", "app-", "application_")):
            if entry.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
                raise ValueError(
                    f"compressed event log {entry}: set spark.eventLog.compress=false"
                )
            apps.append([full])
    return apps


def _plan_metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[int(m["accumulatorId"])] = m.get("metricType", "sum")
    for child in plan.get("children", ()):
        _plan_metric_types(child, out)


def read_groups(path: str) -> dict[str, GroupMetrics]:
    """Sum task metrics per job group over every application logged under
    ``path``.

    Jobs without a group are summed under ``""``. Failed tasks count like
    successful ones, as Spark's own stage totals do."""
    groups: dict[str, GroupMetrics] = {}
    for app, files in enumerate(log_apps(path)):
        events: list[dict] = []
        for f in files:
            with open(f, encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
        _add_app(events, app, groups)
    return groups


def _add_app(events: list[dict], app: int, groups: dict[str, GroupMetrics]) -> None:
    metric_type: dict[int, str] = {}
    for e in events:
        plan = e.get("sparkPlanInfo")
        if plan:
            _plan_metric_types(plan, metric_type)

    # stage ids restart at 0 in every application
    stage_group: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups.setdefault(g, GroupMetrics()).jobs += 1
            for sid in e.get("Stage IDs", ()):
                stage_group[int(sid)] = g

    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerStageCompleted":
            sid = int(e["Stage Info"]["Stage ID"])
            if sid in stage_group:
                groups[stage_group[sid]].stages += 1
        if ev != "SparkListenerTaskEnd":
            continue
        sid = int(e["Stage ID"])
        gm = groups.setdefault(stage_group.get(sid, ""), GroupMetrics())
        tm = e.get("Task Metrics") or {}
        run_s = tm.get("Executor Run Time", 0) / 1e3
        gm.tasks += 1
        gm.run_s += run_s
        gm.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        gm.gc_s += tm.get("JVM GC Time", 0) / 1e3
        sr = tm.get("Shuffle Read Metrics") or {}
        gm.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        gm.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        gm.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        gm.stage_task_s.setdefault((app, sid), []).append(run_s)
        for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
            name = acc.get("Name")
            if name not in PYTHON_ACCUMS or acc.get("Update") is None:
                continue
            scale = _TYPE_SCALE.get(metric_type.get(int(acc["ID"]), "sum"), 1.0)
            gm.accums[name] = gm.accums.get(name, 0.0) + float(acc["Update"]) * scale
