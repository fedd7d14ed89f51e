"""In-memory spans around calls into the engine, and Spark job attribution.

A ``Tracer`` records one ``Span`` per traced call: name, start, end, parent.
While a span is open it owns the Spark job group of the calling thread, so
every job the call submits carries the span's group id.  Jobs submitted from
other threads (a streaming query's micro-batches run under the query's own
group) are attributed by submission time to the innermost span open at that
moment.  Job and stage counters come from the JVM status store once the run
is over, so nothing is read from Spark while an operation is being timed.

A disabled tracer records nothing and never touches Spark; the untraced run
uses one.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"
JOB_GROUP_PROPERTY = "spark.jobGroup.id"

#: stage counters summed per span, keyed by the status store's field names
STAGE_COUNTERS = {
    "executorRunTime": "run_ms",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    op: int | None = None  # index of the operation the span belongs to
    jobs: list[int] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self._sc = sc
        self._ids = itertools.count()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None

    # -- recording -----------------------------------------------------------
    def open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        span = Span(next(self._ids), name, parent, time.time(), op=self.op)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span | None) -> None:
        """Close ``span`` and any child left open inside it."""
        if span is None or span not in self._stack:
            return
        now = time.time()
        while self._stack:
            top = self._stack.pop()
            top.end = now
            if top is span:
                break
        self._set_group(self._stack[-1] if self._stack else None)

    def current(self, name: str) -> Span | None:
        """The innermost open span called ``name``, if any."""
        return next((s for s in reversed(self._stack) if s.name == name), None)

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def _set_group(self, span: Span | None) -> None:
        if self._sc is not None:
            group = f"{GROUP_PREFIX}{span.id}" if span is not None else None
            self._sc.setLocalProperty(JOB_GROUP_PROPERTY, group)

    # -- attribution ---------------------------------------------------------
    def attribute(
        self, jobs: list[dict], stages: dict[int, dict], first_job: int, skip=()
    ) -> list[int]:
        """Give each job with id >= ``first_job`` to exactly one span and sum
        its stage counters into that span.  Jobs that no span names and that
        were submitted inside one of the ``skip`` windows (operations run
        untraced) are left out.  Returns the ids of jobs nothing covers."""
        orphans = []
        by_id = {s.id: s for s in self.spans}
        for job in jobs:
            if job["jobId"] < first_job:
                continue
            owner = owner_of(job, self.spans, by_id)
            if owner is None:
                if not _within(job, skip):
                    orphans.append(job["jobId"])
                continue
            owner.jobs.append(job["jobId"])
        for span in self.spans:
            span.counts = stage_counts(span.jobs, jobs, stages)
        return orphans


def _within(job: dict, windows) -> bool:
    t = job.get("submissionTime")
    return t is not None and any(lo <= t / 1000.0 <= hi for lo, hi in windows)


def owner_of(job: dict, spans: list[Span], by_id: dict[int, Span]) -> Span | None:
    """The span a job belongs to: the span named by its job group, else the
    innermost span whose interval holds the job's submission time."""
    group = job.get("jobGroup") or ""
    if group.startswith(GROUP_PREFIX):
        return by_id.get(int(group[len(GROUP_PREFIX):]))
    submitted = job.get("submissionTime")
    if submitted is None:
        return None
    t = submitted / 1000.0
    holders = [s for s in spans if s.end is not None and s.start <= t <= s.end]
    # spans nest, so the innermost holder is the one that started last
    return max(holders, key=lambda s: s.start, default=None)


def stage_counts(job_ids: list[int], jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    wanted = set(job_ids)
    stage_ids: set[int] = set()
    tasks = 0
    for job in jobs:
        if job["jobId"] in wanted:
            stage_ids.update(job.get("stageIds", ()))
    out = {"jobs": len(wanted), "stages": 0, "skipped_stages": 0, "tasks": 0}
    out.update({v: 0 for v in STAGE_COUNTERS.values()})
    for sid in stage_ids:
        st = stages.get(sid)
        if st is None or st.get("status") == "SKIPPED":
            out["skipped_stages"] += 1
            continue
        out["stages"] += 1
        tasks += st.get("numTasks", 0)
        for src, dst in STAGE_COUNTERS.items():
            out[dst] += st.get(src, 0)
    out["tasks"] = tasks
    return out


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of its interval its children cover."""
    if span.end is None:
        return 0.0
    kids = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id and c.end is not None
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(span.duration - covered, 0.0)


def read_status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """Every job and every stage's last attempt the JVM status store holds,
    as JSON-decoded dicts.  Waits for the listener bus to drain first."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    store = jsc.statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stage_list = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        getattr(store, "stageList$default$4")(), None,
    )
    stages: dict[int, dict] = {}
    for st in json.loads(mapper.writeValueAsString(stage_list)):
        prev = stages.get(st["stageId"])
        if prev is None or st["attemptId"] > prev["attemptId"]:
            stages[st["stageId"]] = st
    return sorted(jobs, key=lambda j: j["jobId"]), stages
