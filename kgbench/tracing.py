"""Spans recorded around layer calls, and their attribution to Spark work.

A ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
writes them once, at exit.  ``EventLog`` reads an uncompressed Spark event
log; ``layer_stats`` attributes its jobs, stages and tasks to the deepest
span whose time window holds the job's submission.  Attribution goes by
time window, not by job group: ``canonicalize`` sets its own job group on
every colour round, which would hide the caller's group.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field

# plan nodes of the library's Python kernels (applyInPandas, mapInPandas,
# scalar pandas_udf); a stage whose RDD scopes name one is a kernel stage
PYTHON_NODES = ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython")


@dataclass
class Span:
    id: int
    name: str
    run: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing and
    adds one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, run: str):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name, run,
                  self._stack[-1].id if self._stack else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it its children cover."""
        return sp.dur - covered(
            [(c.start, c.end) for c in self.children(sp)], sp.start, sp.end)

    def write(self, path: str, extra: dict | None = None) -> None:
        rows = [{"id": s.id, "name": s.name, "run": s.run,
                 "parent": s.parent, "start": s.start, "end": s.end,
                 "dur_s": s.dur, "self_s": self.self_time(s)}
                for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"spans": rows, **(extra or {})}, fh, indent=1)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

@dataclass
class Stage:
    id: int
    submit: float = 0.0
    end: float = 0.0
    python: bool = False
    # per task: (launch s, finish s, executor run time s)
    tasks: list = field(default_factory=list)
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    stage_ids: list = field(default_factory=list)


class EventLog:
    """Jobs, submitted stages and finished tasks of one application,
    timestamps in epoch seconds (the driver clock ``time.time`` reads)."""

    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _stage(self, info: dict) -> Stage:
        st = self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
        for rdd in info.get("RDD Info", []):
            scope = rdd.get("Scope") or ""
            if any(n in scope for n in PYTHON_NODES):
                st.python = True
        return st

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = Job(ev["Job ID"],
                                          ev["Submission Time"] / 1e3,
                                          stage_ids=ev["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            st = self._stage(ev["Stage Info"])
            st.submit = ev["Stage Info"].get("Submission Time", 0) / 1e3
        elif kind == "SparkListenerStageCompleted":
            st = self._stage(ev["Stage Info"])
            st.end = ev["Stage Info"].get("Completion Time", 0) / 1e3
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            st.tasks.append((info["Launch Time"] / 1e3,
                             info["Finish Time"] / 1e3,
                             m.get("Executor Run Time", 0) / 1e3))
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.spill += m.get("Disk Bytes Spilled", 0)


def attribute(spans: list[Span], log: EventLog) -> dict[int, list[Job]]:
    """Jobs per span id: each job goes to the deepest span whose window
    holds its submission time (spans of one run nest, siblings do not
    overlap, so the deepest holder is unique)."""
    depth = {}
    for s in spans:
        depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
    out: dict[int, list[Job]] = {s.id: [] for s in spans}
    for job in log.jobs.values():
        holders = [s for s in spans if s.start <= job.submit <= s.end]
        if holders:
            out[max(holders, key=lambda s: depth[s.id]).id].append(job)
    return out


def layer_stats(span: Span, jobs: list[Job], log: EventLog,
                cores: int) -> dict:
    """Spark-side numbers of one span from the jobs attributed to it."""
    stages = {sid: log.stages[sid] for j in jobs for sid in j.stage_ids
              if sid in log.stages and log.stages[sid].submit}
    tasks = [t for st in stages.values() for t in st.tasks]
    py = [st for st in stages.values() if st.python]
    py_run = [t[2] for st in py for t in st.tasks]
    busy_wall = sum(f - l for l, f, _ in tasks)
    dur = max(span.dur, 1e-9)
    return {
        "wall_s": span.dur,
        "jobs": len(jobs),
        "stages": len(stages),
        "task_busy_s": sum(t[2] for t in tasks),
        "core_idle_frac": max(0.0, 1.0 - busy_wall / (cores * dur)),
        "driver_gap_s": span.dur - covered(
            [(j.submit, j.end) for j in jobs], span.start, span.end),
        "shuffle_write_mb": sum(st.shuffle_write for st in stages.values())
        / 2 ** 20,
        "spill_mb": sum(st.spill for st in stages.values()) / 2 ** 20,
        "kernel_stage_s": sum(st.end - st.submit for st in py),
        "kernel_tasks": len(py_run),
        "kernel_task_max_over_mean": (max(py_run) / statistics.mean(py_run)
                                      if py_run and statistics.mean(py_run)
                                      else 0.0),
    }
