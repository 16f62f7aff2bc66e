"""Spans around calls into the program, and the Spark event log parsed
into per-span counters.

Every span sets a job group that is unique to the span and the pass
(``<span>#<pass>``), so the jobs it triggers can be told apart from the
event log afterwards and counts never add up across passes. Span timing
is two clock reads and two local-property calls, so spans stay on in
untraced runs too; only the event log (turned on for the traced run)
costs anything.

The parser is the per-label aggregation of ``tools/bench_profile.py``,
keyed by job group instead of job description, plus ``driver_gap_s``:
the part of a span's wall time during which none of its stages ran.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    pass_no: int
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    error: str | None = None

    @property
    def group(self) -> str:
        return f"{self.name}#{self.pass_no}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Recorder:
    """Spans of one run, kept in memory until the run ends."""

    sc: object  # pyspark SparkContext
    spans: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, pass_no: int):
        s = Span(name, pass_no, time.time())
        self.spans.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        except Exception as exc:
            s.error = f"{type(exc).__name__}: {exc}"
            raise
        finally:
            s.end = time.time()
            self.sc.setLocalProperty(GROUP_PROP, None)


def _log_files(log_dir: str, app_id: str) -> list[str]:
    """Single-file or rolling (eventlog_v2_<app>) event log of one app."""
    single = os.path.join(log_dir, app_id)
    if os.path.isfile(single):
        return [single]
    v2 = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if not os.path.isdir(v2):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return [
        os.path.join(v2, name)
        for name in sorted(os.listdir(v2))
        if name.startswith("events_")
    ]


def _stage() -> dict:
    return {"start": 0, "end": 0, "tasks": 0, "cpu_ns": 0, "shuffle_write": 0,
            "shuffle_read": 0, "input": 0}


def parse_event_log(log_dir: str, app_id: str) -> dict[str, dict]:
    """job group -> {jobs, stages, tasks, task_cpu_s, shuffle_bytes,
    input_bytes, intervals}; ``intervals`` are the (start, end) epoch
    seconds of every stage that ran."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for path in _log_files(log_dir, app_id):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get(GROUP_PROP) or ""
                    for sid in ev.get("Stage IDs", []):
                        # a later job that reuses (skips) a shuffle stage
                        # lists it too; the stage stays with its first job
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _stage())
                    st["start"] = info.get("Submission Time") or 0
                    st["end"] = info.get("Completion Time") or 0
                    st["tasks"] += info.get("Number of Tasks", 0)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], _stage())
                    read = m.get("Shuffle Read Metrics") or {}
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["shuffle_read"] += read.get("Remote Bytes Read", 0) + read.get(
                        "Local Bytes Read", 0)
                    st["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    out: dict[str, dict] = {}
    for jid, group in job_group.items():
        agg = out.setdefault(group, {"jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0,
                                     "shuffle_bytes": 0, "input_bytes": 0, "intervals": []})
        agg["jobs"] += 1
    for sid, st in stages.items():
        agg = out.get(job_group.get(stage_job.get(sid, -1), ""))
        if agg is None:
            continue
        agg["stages"] += 1
        agg["tasks"] += st["tasks"]
        agg["task_cpu_s"] += st["cpu_ns"] / 1e9
        agg["shuffle_bytes"] += st["shuffle_write"]
        agg["input_bytes"] += st["input"]
        if st["start"] and st["end"]:
            agg["intervals"].append((st["start"] / 1000.0, st["end"] / 1000.0))
    return out


def idle_seconds(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] not covered by any interval."""
    busy, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            busy += b - a
            cursor = b
    return max(0.0, (end - start) - busy)


def span_counters(span: Span, groups: dict[str, dict]) -> dict:
    g = groups.get(span.group) or {"jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0,
                                   "shuffle_bytes": 0, "input_bytes": 0, "intervals": []}
    return {
        "wall_s": span.wall_s,
        "jobs": g["jobs"],
        "stages": g["stages"],
        "tasks": g["tasks"],
        "task_cpu_s": g["task_cpu_s"],
        "shuffle_bytes": g["shuffle_bytes"],
        "input_bytes": g["input_bytes"],
        "driver_gap_s": idle_seconds(span.start, span.end, g["intervals"]),
    }


class EventLogSwitch:
    """Detach and re-attach the session's event-log listener, so one
    traced run can time untraced passes in the same session."""

    def __init__(self, sc):
        self._jsc = sc._jsc.sc()
        logger = self._jsc.eventLogger()
        self._listener = logger.get() if logger.isDefined() else None
        self.attached = self._listener is not None

    def detach(self) -> None:
        if self.attached:
            self._jsc.listenerBus().waitUntilEmpty()
            self._jsc.removeSparkListener(self._listener)
            self.attached = False

    def attach(self) -> None:
        if not self.attached and self._listener is not None:
            self._jsc.addSparkListener(self._listener)
            self.attached = True
