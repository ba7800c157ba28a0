"""Spans around the program's public layer calls, with Spark jobs attributed
to the innermost span that launched them.

A traced op wraps layer functions *as their callers bind them* (for example
``plans.pipeline.write_partitioned_parquet``) and restores the originals
afterwards, so untraced ops run the program unmodified. Every span runs under
its own Spark job group; when it ends, the caller's group and description are
put back. After the op, the jobs it ran are read from Spark's status store
(which is kept with ``spark.ui.enabled=false``) and matched to spans by group.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

GROUP_PROP = "spark.jobGroup.id"
DESC_PROP = "spark.job.description"
INTERRUPT_PROP = "spark.job.interruptOnCancel"
_SAVED_PROPS = (GROUP_PROP, DESC_PROP, INTERRUPT_PROP)

ENGINE_KEYS = (
    "stages",
    "tasks",
    "task_s",
    "task_cpu_s",
    "gc_s",
    "input_bytes",
    "output_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    name: str
    op: str  # label of the traced op, unique within a run
    group: str
    parent: int | None  # index into the tracer's span list
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float = 0.0


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float
    metrics: dict[str, float] = field(default_factory=dict)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def children_of(spans: list[Span]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids[s.parent].append(i)
    return kids


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    kids = children_of(spans)
    return [
        (s.end - s.start)
        - union_length([(spans[c].start, spans[c].end) for c in kids[i]], s.start, s.end)
        for i, s in enumerate(spans)
    ]


def jobs_per_span(spans: list[Span], jobs: list[Job]) -> tuple[list[int], list[int]]:
    """(self, inclusive) job counts per span. A job belongs to the span whose
    group it ran under, i.e. the innermost span open when it was launched;
    the inclusive count adds every descendant's jobs."""
    index = {s.group: i for i, s in enumerate(spans)}
    own = [0] * len(spans)
    for j in jobs:
        i = index.get(j.group)
        if i is not None:
            own[i] += 1
    kids = children_of(spans)

    def total(i: int) -> int:
        return own[i] + sum(total(c) for c in kids[i])

    return own, [total(i) for i in range(len(spans))]


def engine_totals(jobs: list[Job]) -> dict[str, float]:
    out = {k: 0.0 for k in ENGINE_KEYS}
    for j in jobs:
        for k in ENGINE_KEYS:
            out[k] += j.metrics.get(k, 0.0)
    out["jobs"] = float(len(jobs))
    return out


def read_jobs(sc, first_job: int, end_job: int) -> list[Job]:
    """Jobs ``first_job <= id < end_job`` with their stage metrics summed.
    Waits for the listener bus first, so every finished job is recorded."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = []
    for job_id in range(first_job, end_job):
        jd = store.job(job_id)
        group = jd.jobGroup().get() if jd.jobGroup().isDefined() else None
        start = jd.submissionTime().get().getTime() / 1e3
        done = jd.completionTime()
        end = done.get().getTime() / 1e3 if done.isDefined() else start
        m = {k: 0.0 for k in ENGINE_KEYS}
        stage_ids = jd.stageIds()
        for i in range(stage_ids.size()):
            attempts = store.stageData(stage_ids.apply(i), False, None, False, None)
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.status().toString() == "SKIPPED":
                    continue
                m["stages"] += 1
                m["tasks"] += sd.numCompleteTasks()
                m["task_s"] += sd.executorRunTime() / 1e3
                m["task_cpu_s"] += sd.executorCpuTime() / 1e9
                m["gc_s"] += sd.jvmGcTime() / 1e3
                m["input_bytes"] += sd.inputBytes()
                m["output_bytes"] += sd.outputBytes()
                m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        jobs.append(Job(job_id, group, start, end, m))
    return jobs


class Tracer:
    """Records spans for traced ops of one benchmark run."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._op: str | None = None

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if self._op is None:  # a wrapped layer called outside a traced op
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self._op, f"perfbench:{self._op}:{idx}", parent, time.time())
        self.spans.append(s)
        saved = {k: self.sc.getLocalProperty(k) for k in _SAVED_PROPS}
        self.sc.setLocalProperty(GROUP_PROP, s.group)
        self.sc.setLocalProperty(DESC_PROP, name)
        self.sc.setLocalProperty(INTERRUPT_PROP, "false")
        self._stack.append(idx)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)  # None removes the property

    @contextlib.contextmanager
    def op(self, op_id: str, name: str = "op"):
        """Open a traced op; its root span catches jobs outside any layer."""
        self._op = op_id
        try:
            with self.span(name):
                yield
        finally:
            self._op = None

    def op_spans(self, op_id: str) -> list[Span]:
        """The op's spans, re-indexed so parents point into the returned list."""
        picked = [i for i, s in enumerate(self.spans) if s.op == op_id]
        where = {old: new for new, old in enumerate(picked)}
        out = []
        for i in picked:
            s = self.spans[i]
            out.append(Span(s.name, s.op, s.group, where.get(s.parent), s.start, s.end))
        return out

    # -- patching ----------------------------------------------------------
    def wrap(self, owner: object, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
