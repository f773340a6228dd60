"""Fold a Spark event log into per-job-group engine totals.

Spark writes one JSON event per line when ``spark.eventLog.enabled`` is
set. With ``spark.eventLog.compress=false`` the files are plain text; an
application's log is either one file or, with rolling logs (the Spark 4
default), a directory ``eventlog_v2_<app>/`` holding ``events_<n>_<app>``
parts.

The benchmark tags every Spark job it causes with
``SparkContext.setJobGroup(<group>)``. ``fold`` maps each stage to the
group of the job that first listed it (``SparkListenerJobStart``), then
adds up every ``SparkListenerTaskEnd`` of that stage and every
``SparkListenerStageCompleted``. Only the job-start properties carry the
group, so the three event kinds are joined here.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass

NO_GROUP = "(none)"


@dataclass
class GroupTotals:
    """Engine totals of every job in one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_ms: int = 0  # summed executor run time
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # memory + disk bytes spilled
    peak_exec_bytes: int = 0  # largest peak execution memory of one task

    def add(self, other: GroupTotals) -> None:
        for k in self.__dataclass_fields__:
            if k == "peak_exec_bytes":
                self.peak_exec_bytes = max(self.peak_exec_bytes, other.peak_exec_bytes)
            else:
                setattr(self, k, getattr(self, k) + getattr(other, k))


def log_files(path: str) -> list[str]:
    """Event files of one application, in write order. ``path`` is a
    plain event file or a rolling ``eventlog_v2_*`` directory."""
    if os.path.isfile(path):
        return [path]
    parts = glob.glob(os.path.join(path, "events_*"))

    def index(p: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    return sorted(parts, key=index)


def app_log(log_dir: str, app_id: str) -> str:
    """The event log of application ``app_id`` under ``log_dir``."""
    rolling = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    return rolling if os.path.isdir(rolling) else os.path.join(log_dir, app_id)


def read_events(path: str):
    """Yield the events of one application log (file or rolling dir)."""
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def fold(events) -> dict[str, GroupTotals]:
    """Per-job-group engine totals of an event stream."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupTotals] = {}

    def totals(group: str) -> GroupTotals:
        return out.setdefault(group, GroupTotals())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or NO_GROUP
            totals(group).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            t = totals(stage_group.get(ev["Stage ID"], NO_GROUP))
            t.tasks += 1
            m = ev.get("Task Metrics") or {}
            t.task_ms += m.get("Executor Run Time", 0)
            t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            t.peak_exec_bytes = max(t.peak_exec_bytes, m.get("Peak Execution Memory", 0))
            r = m.get("Shuffle Read Metrics") or {}
            t.shuffle_read_bytes += r.get("Remote Bytes Read", 0) + r.get(
                "Local Bytes Read", 0
            )
            w = m.get("Shuffle Write Metrics") or {}
            t.shuffle_write_bytes += w.get("Shuffle Bytes Written", 0)
        elif kind == "SparkListenerStageCompleted":
            totals(stage_group.get(ev["Stage Info"]["Stage ID"], NO_GROUP)).stages += 1
    return out


def by_prefix(groups: dict[str, GroupTotals], prefix: str) -> GroupTotals:
    """Sum of every group named ``prefix`` or starting ``prefix`` + ``.``
    or ``:`` (sub-layers and build phases)."""
    acc = GroupTotals()
    for name, t in groups.items():
        if name == prefix or name.startswith((prefix + ".", prefix + ":")):
            acc.add(t)
    return acc
