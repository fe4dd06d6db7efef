"""Reduce a Spark JSON event log to one row per stage.

Per stage: its wall (submission to completion), tasks, executor run and
CPU time, input bytes and records, shuffle read and write bytes, spill, JVM
GC time, and max / median task time. Each stage is keyed to the benchmark span whose label was the job
description of the job that ran it (see ``tracing.Tracer.span(label=True)``).
"""

from __future__ import annotations

import json
import pathlib
import statistics
from dataclasses import dataclass, field

from perfbench.tracing import span_id_of_label


@dataclass
class StageRow:
    stage_id: int
    job_ids: list[int] = field(default_factory=list)
    description: str | None = None
    span_id: int | None = None
    name: str = ""
    submitted_s: float = 0.0  # epoch seconds; 0 when the log has no time
    completed_s: float = 0.0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    task_s: list[float] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.completed_s - self.submitted_s

    @property
    def task_max_s(self) -> float:
        return max(self.task_s, default=0.0)

    @property
    def task_median_s(self) -> float:
        return statistics.median(self.task_s) if self.task_s else 0.0

    @property
    def task_skew(self) -> float:
        med = self.task_median_s
        return self.task_max_s / med if med > 0 else 0.0

    def as_dict(self) -> dict:
        d = {k: v for k, v in self.__dict__.items() if k != "task_s"}
        d.update(wall_s=self.wall_s, task_max_s=self.task_max_s, task_median_s=self.task_median_s, task_skew=self.task_skew)
        return d


def reduce_events(lines) -> list[StageRow]:
    """Stage rows, in stage-id order, from an iterable of event-log lines."""
    stages: dict[int, StageRow] = {}

    def row(sid: int) -> StageRow:
        if sid not in stages:
            stages[sid] = StageRow(sid)
        return stages[sid]

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            for sid in ev.get("Stage IDs", []):
                r = row(sid)
                r.job_ids.append(ev["Job ID"])
                if desc is not None and r.description is None:
                    r.description = desc
                    r.span_id = span_id_of_label(desc)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            r = row(info["Stage ID"])
            r.name = info.get("Stage Name", "")
            if "Submission Time" in info and "Completion Time" in info:
                r.submitted_s = info["Submission Time"] / 1e3
                r.completed_s = info["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            r = row(ev["Stage ID"])
            r.tasks += 1
            run_ms = m.get("Executor Run Time", 0)
            r.run_s += run_ms / 1e3
            r.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            r.gc_s += m.get("JVM GC Time", 0) / 1e3
            im = m.get("Input Metrics") or {}
            r.input_bytes += im.get("Bytes Read", 0)
            r.input_records += im.get("Records Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            r.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            r.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            r.spill_bytes += m.get("Disk Bytes Spilled", 0)
            r.task_s.append(run_ms / 1e3)
    return [stages[k] for k in sorted(stages)]


def stage_wall_s(rows: list[StageRow]) -> float:
    """Wall time during which at least one of ``rows`` was running (the
    union of their submission-to-completion intervals)."""
    covered = 0.0
    end = None
    for r in sorted((r for r in rows if r.completed_s > r.submitted_s), key=lambda r: r.submitted_s):
        if end is None or r.submitted_s > end:
            covered += r.completed_s - r.submitted_s
            end = r.completed_s
        elif r.completed_s > end:
            covered += r.completed_s - end
            end = r.completed_s
    return covered


def _app_logs(log_dir: pathlib.Path) -> list[list[pathlib.Path]]:
    """One list of files per application under ``log_dir``: a single-file
    log, or the ``events_<n>_<app>`` parts of a rolling (v2) log directory
    in part order."""

    def part(p: pathlib.Path) -> int:
        bits = p.name.split("_")
        return int(bits[1]) if bits[0] == "events" and len(bits) > 1 and bits[1].isdigit() else 0

    apps: dict[pathlib.Path, list[pathlib.Path]] = {}
    for p in log_dir.rglob("*"):
        if not p.is_file() or p.name.startswith((".", "appstatus")):
            continue
        key = p.parent if p.parent != log_dir else p
        apps.setdefault(key, []).append(p)
    return [sorted(files, key=part) for _, files in sorted(apps.items())]


def _lines(files: list[pathlib.Path]):
    for p in files:
        with open(p) as f:
            yield from f


def reduce_dir(log_dir: pathlib.Path) -> list[StageRow]:
    """Reduce every (uncompressed) event log under ``log_dir``."""
    rows: list[StageRow] = []
    for files in _app_logs(log_dir):
        rows.extend(reduce_events(_lines(files)))
    return rows
