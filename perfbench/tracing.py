"""Spans for the traced run, and their attribution to Spark jobs.

A span records its name, start, end and parent. Spans live in memory and are
turned into per-layer metrics once the run ends. Each span sets a Spark job
group, so the event log's jobs, stages and tasks attribute to the innermost
open span.

The engine's operators are lazy: calling one only builds a plan. The traced
run times such a function by running a no-op-sink action over its output
(a *probe* span). Probe work is extra work, so it is kept out of every
program-side count and reported as ``trace.overhead_frac``.
"""

from __future__ import annotations

import functools
import glob
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    probe: bool = False

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Collects spans; a disabled tracer records nothing and runs no probes."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        self._sc.setLocalProperty("spark.jobGroup.id", None if span is None else f"s{span.sid}")
        self._sc.setLocalProperty("spark.job.description", None if span is None else span.name)

    @contextmanager
    def span(self, name: str, probe: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans) + 1, name, parent.sid if parent else None, time.time(),
                 probe=probe)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self._set_group(parent)

    def probe(self, name: str, df) -> None:
        """Time ``df``'s plan with an action that writes nowhere."""
        if self.enabled:
            with self.span(name, probe=True):
                df.write.format("noop").mode("overwrite").save()

    def wrap_lazy(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function returning a DataFrame) with one
        that also probes the result."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **k):
            out = fn(*a, **k)
            self.probe(name, out)
            return out

        setattr(owner, attr, traced)

    def wrap_eager(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **k):
            with self.span(name):
                return fn(*a, **k)

        setattr(owner, attr, traced)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


# -- event log ----------------------------------------------------------------


@dataclass
class Job:
    group: str | None
    t0: float
    t1: float


@dataclass
class StageTotals:
    group: str | None = None
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, StageTotals]]:
    """Jobs (with their job group and wall interval) and per-stage task
    totals from the uncompressed event log of the one application run."""
    files = glob.glob(f"{log_dir}/*")
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[e["Job ID"]] = Job(group, e["Submission Time"] / 1e3, 0.0)
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]].t1 = e["Completion Time"] / 1e3
            elif ev == "SparkListenerStageSubmitted":
                st = stages.setdefault(e["Stage Info"]["Stage ID"], StageTotals())
                st.group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            elif ev == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], StageTotals())
                m = e.get("Task Metrics") or {}
                st.tasks += 1
                st.run_s += m.get("Executor Run Time", 0) / 1e3
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return list(jobs.values()), stages


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Attribution:
    """Maps spans to the Spark jobs and stages that ran under them."""

    def __init__(self, tracer: Tracer, jobs: list[Job], stages: dict[int, StageTotals]):
        self.spans = {s.sid: s for s in tracer.spans}
        self.jobs = jobs
        self.stages = stages
        self._children: dict[int | None, list[int]] = {}
        for s in tracer.spans:
            self._children.setdefault(s.parent, []).append(s.sid)

    def subtree(self, sid: int) -> list[Span]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(self.spans[cur])
            todo.extend(self._children.get(cur, []))
        return out

    def _groups(self, spans: list[Span], probe: bool) -> set[str]:
        return {f"s{s.sid}" for s in spans if s.probe == probe}

    def program_jobs(self, spans: list[Span]) -> list[Job]:
        groups = self._groups(spans, probe=False)
        return [j for j in self.jobs if j.group in groups]

    def probe_time(self, spans: list[Span]) -> float:
        return sum(s.dur for s in spans if s.probe)

    def own_time(self, sid: int) -> float:
        """Wall time of the span minus the probes run inside it."""
        return self.spans[sid].dur - self.probe_time(self.subtree(sid))

    def driver_gap(self, sid: int) -> float:
        """Time inside the span with no program job running and no probe."""
        s = self.spans[sid]
        sub = self.subtree(sid)
        busy = covered([(j.t0, j.t1) for j in self.program_jobs(sub)], s.t0, s.t1)
        return s.dur - self.probe_time(sub) - busy

    def stage_totals(self, spans: list[Span], probe: bool) -> StageTotals:
        groups = self._groups(spans, probe)
        tot = StageTotals()
        for st in self.stages.values():
            if st.group in groups:
                tot.tasks += st.tasks
                tot.run_s += st.run_s
                tot.gc_s += st.gc_s
                tot.shuffle_write += st.shuffle_write
                tot.spill += st.spill
        return tot
