"""Spans and per-layer counters read from Spark's own telemetry.

Everything here observes the engine from outside: job and stage data
come from the driver's status store, planning phases from
``QueryExecution.tracker()``, and streaming progress from a
``StreamingQueryListener`` the benchmark registers itself. Spans are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import datetime as _dt
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, so JVM millisecond stamps line up
    end: float
    id: int
    parent: int | None = None
    trace: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store; a span inherits its parent's trace id."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: Span | None,
            trace: str | None = None, **attrs) -> Span:
        s = Span(name, start, end, len(self.spans) + 1, parent.id if parent else None,
                 trace or (parent.trace if parent else None), attrs)
        self.spans.append(s)
        return s

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals,
        each child clipped to its parent."""
        kids = self.children()
        return {
            s.id: s.dur - union_len([(max(c.start, s.start), min(c.end, s.end))
                                     for c in kids.get(s.id, [])])
            for s in self.spans
        }

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "parent": s.parent, "trace": s.trace, "name": s.name,
             "start": s.start, "end": s.end, **s.attrs}
            for s in self.spans
        ]


def union_len(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals``; overlaps count once."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _opt_ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class StageStats:
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0

    def add(self, other: "StageStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class SparkProbe:
    """Reads finished jobs and stages from the live status store."""

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.last_job = self.max_job_id()

    def drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self.jsc.listenerBus().waitUntilEmpty()

    def max_job_id(self) -> int:
        self.drain()
        jobs = self.store.jobsList(None)  # a Scala Seq, newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def new_jobs(self) -> list[tuple[int, float, float, list[int]]]:
        """(job id, submitted, completed, stage ids) of jobs started
        since the previous call, oldest first."""
        self.drain()
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):  # newest first
            j = jobs.apply(i)
            if j.jobId() <= self.last_job:
                break
            sub = _opt_ms(j.submissionTime())
            done = _opt_ms(j.completionTime()) or time.time()
            seq = j.stageIds()
            stage_ids = [seq.apply(k) for k in range(seq.size())]
            out.append((j.jobId(), sub or done, done, stage_ids))
        out.sort()
        if out:
            self.last_job = out[-1][0]
        return out

    def stage(self, sid: int) -> tuple[StageStats, float, float] | None:
        try:
            s = self.store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that never ran has no attempt
            return None
        if s.status().toString() == "SKIPPED":
            return None
        st = StageStats(
            stages=1,
            tasks=s.numCompleteTasks(),
            cpu_s=s.executorCpuTime() / 1e9,
            run_s=s.executorRunTime() / 1e3,
            gc_s=s.jvmGcTime() / 1e3,
            shuffle_write=s.shuffleWriteBytes(),
            shuffle_read=s.shuffleReadBytes(),
            spill=s.diskBytesSpilled(),
        )
        start = _opt_ms(s.submissionTime())
        end = _opt_ms(s.completionTime())
        return st, start or 0.0, end or start or 0.0

    def attach_jobs(self, tracer: Tracer, phases: list[Span],
                    batches: list[Span]) -> dict[int, StageStats]:
        """Parent every new job (and its stages) under the phase span
        whose interval holds the job's submission time, or under the
        streaming microbatch inside it that does. Returns stage
        statistics per phase span id."""
        per_phase = {p.id: StageStats() for p in phases}
        njobs = {p.id: 0 for p in phases}
        for jid, sub, done, stage_ids in self.new_jobs():
            # single client thread: the phases tile the op, so the
            # submission time names the phase; jobs submitted outside
            # the op (the benchmark's own bookkeeping) are not the op's
            if not phases[0].start - 0.001 <= sub <= phases[-1].end + 0.001:
                continue
            owner = phases[0]
            for p in phases:
                if p.start <= sub + 0.001:
                    owner = p
            parent = owner
            for b in batches:
                if b.parent == owner.id and b.start - 0.001 <= sub <= b.end + 0.001:
                    parent = b
            jspan = tracer.add("exec.job", sub, done, parent, job_id=jid)
            njobs[owner.id] += 1
            for sid in stage_ids:
                got = self.stage(sid)
                if got is None:
                    continue
                st, a, b = got
                tracer.add("exec.stage", a, b, jspan, stage_id=sid,
                           tasks=st.tasks, executor_cpu_s=st.cpu_s)
                per_phase[owner.id].add(st)
        for p in phases:
            p.attrs["jobs"] = njobs[p.id]
        return per_phase


def plan_phases(df) -> dict[str, float]:
    """Force physical planning of ``df`` and read Catalyst's per-phase
    milliseconds from its ``QueryExecution`` tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps every progress event.

    Built lazily so that importing this module does not need pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ts = _dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            dur = dict(p.durationMs or {})
            self.events.append({
                "query": p.name, "run": str(p.runId), "batch": p.batchId,
                "start": ts.timestamp(),
                "trigger_ms": float(dur.get("triggerExecution", 0)),
                "add_batch_ms": float(dur.get("addBatch", 0)),
                "wal_commit_ms": float(dur.get("walCommit", 0)),
                "input_rows": int(p.numInputRows or 0),
                "state": [
                    (float(s.commitTimeMs or 0), int(s.numRowsTotal or 0),
                     int(s.memoryUsedBytes or 0))
                    for s in (p.stateOperators or [])
                ],
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressRecorder()
