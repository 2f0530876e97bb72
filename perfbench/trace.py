"""Spans around the calls the benchmark makes into each layer.

A span records name, layer, start, end, its parent span and the call
id shared by every span of one client call. Spans that can launch Spark
work set their own id as the Spark job group, so the jobs (and through
them the stages) read back from Spark's status store attach to the span
that caused them. Spans stay in memory and are written out once, when
the run ends.

With tracing off, :meth:`Tracer.span` is a no-op context manager and
no job group is ever set.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field

#: the layers a span can belong to, outermost first
LAYERS = ("bench", "engine", "queries", "catalyst", "action")
#: per-stage counters summed into each span's Spark totals
STAGE_COUNTERS = (
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    call_id: int
    parent: int | None
    start: float
    end: float = 0.0
    #: Spark job group (the span id as a string) when the span set one
    group: str | None = None
    #: Spark totals of the jobs in ``group`` (added by ``attach_jobs``)
    #: and Catalyst phase times (added by the caller)
    spark: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._calls = itertools.count(1)
        #: open spans, innermost last; every span opens on the one
        #: client thread
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, spark_work: bool = False):
        """Time one call into ``layer``. A span opened with no span open
        starts a new call. ``spark_work`` makes the span
        own the Spark job group for its duration."""
        if not self.enabled:
            yield None
            return
        stack = self._stack
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        call_id = parent.call_id if parent else next(self._calls)
        s = Span(sid, name, layer, call_id, parent.span_id if parent else None,
                 time.perf_counter())
        if spark_work:
            s.group = f"perfbench-{sid}"
            self._sc.setJobGroup(s.group, name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if s.group is not None:
                outer = next((p.group for p in reversed(stack) if p.group), None)
                if outer is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                else:
                    self._sc.setJobGroup(outer, "")
            self.spans.append(s)

    # -- Spark attribution --------------------------------------------------
    def attach_jobs(self) -> None:
        """Read each grouped span's jobs and stages from the status
        store. Called once, after the timed phase: the listener bus is
        drained first so every finished job's stage metrics are there."""
        if not self.enabled:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        # one pass over every job, grouped by job group: spans whose
        # group ran no job cost nothing
        jobs_of: dict[str, list] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.length()):
            job = jobs.apply(i)
            if job.jobGroup().isDefined():
                jobs_of.setdefault(job.jobGroup().get(), []).append(job)
        # wall-clock job times come back in epoch ms; spans are in
        # perf_counter seconds — one offset maps between them
        offset = time.time() - time.perf_counter()
        for s in self.spans:
            if s.group is None:
                continue
            totals = {"jobs": 0, "stages": 0, "job_wall_ms": 0.0}
            totals.update({c: 0 for c in STAGE_COUNTERS})
            seen_stages: set[int] = set()
            intervals = []
            for job in jobs_of.get(s.group, []):
                totals["jobs"] += 1
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    intervals.append(
                        (
                            job.submissionTime().get().getTime() / 1000.0 - offset,
                            job.completionTime().get().getTime() / 1000.0 - offset,
                        )
                    )
                ids = job.stageIds()
                for i in range(ids.length()):
                    stage_id = ids.apply(i)
                    if stage_id in seen_stages:
                        continue
                    seen_stages.add(stage_id)
                    st = store.lastStageAttempt(stage_id)
                    if st.status().toString() == "SKIPPED":
                        continue
                    totals["stages"] += 1
                    totals["tasks"] += st.numTasks()
                    totals["executor_run_ms"] += st.executorRunTime()
                    totals["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    totals["gc_ms"] += st.jvmGcTime()
                    totals["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    totals["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            totals["job_wall_ms"] = _union_ms(intervals, s.start, s.end)
            s.spark.update(totals)

    # -- self time -----------------------------------------------------------
    def self_ms(self, since: float = 0.0) -> dict[str, float]:
        """Total self time per layer over the spans that started at or
        after ``since``: a span's duration minus the part covered by its
        child spans, with the wall of Spark jobs it owns moved out into
        a ``spark`` layer of its own."""
        spans = [s for s in self.spans if s.start >= since]
        children: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                children[s.parent] = children.get(s.parent, 0.0) + s.ms
        out = {layer: 0.0 for layer in LAYERS + ("spark",)}
        for s in spans:
            own = s.ms - children.get(s.span_id, 0.0)
            job_ms = s.spark.get("job_wall_ms", 0.0)
            out["spark"] += job_ms
            out[s.layer] += max(own - job_ms, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total * 1000.0
