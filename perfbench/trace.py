"""In-memory spans and Spark job attribution for the benchmark.

A span is one call into a package layer plus the action that forces its
result.  Spans nest (a catalog load inside a similarity query) and are kept
in memory until the run ends.  Spark jobs are read from the live status store
(``sc._jsc.sc().statusStore()``), which is filled even with
``spark.ui.enabled=false``, and each job is given to the innermost span whose
interval holds the job's submission time.  Job groups are not used: jobs
started from the package's thread pools and from streaming threads carry no
group of the caller.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    failed: bool = False
    children: list[int] = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float
    tasks: int
    failed_tasks: int
    shuffle_write_bytes: int
    spill_bytes: int


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_intervals(span: Span, spans: list[Span]) -> list[tuple[float, float]]:
    """The parts of ``span``'s interval that none of its children cover."""
    kids = sorted(clip([(spans[c].start, spans[c].end) for c in span.children], span.start, span.end))
    out, cur = [], span.start
    for s, e in kids:
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if span.end > cur:
        out.append((cur, span.end))
    return out


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the union of its children's intervals."""
    kids = clip([(spans[c].start, spans[c].end) for c in span.children], span.start, span.end)
    return (span.end - span.start) - union_length(kids)


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Map span index -> jobs submitted inside it and inside none of its
    children.  Among spans holding the submission time the one that started
    last is the innermost, since spans nest and one client runs them in
    order.  Jobs submitted outside every span are dropped."""
    order = sorted(range(len(spans)), key=lambda i: spans[i].start)
    out: dict[int, list[Job]] = defaultdict(list)
    for job in jobs:
        best = None
        for i in order:
            sp = spans[i]
            if sp.start > job.submit:
                break
            if job.submit <= sp.end:
                best = i
        if best is not None:
            out[best].append(job)
    return out


LAYER_FIELDS = ("calls", "self_s", "jobs", "tasks", "driver_gap_s", "shuffle_write_bytes", "spill_bytes", "failed")


def layer_totals(spans: list[Span], jobs: list[Job], layers: list[str]) -> dict[str, dict[str, float]]:
    """Per-layer sums over all closed spans: calls, self time, attributed
    jobs and tasks, driver gap (self time during which none of the span's own
    jobs ran), shuffle write and spill bytes, and failed calls."""
    by_span = attribute_jobs(spans, jobs)
    out = {name: dict.fromkeys(LAYER_FIELDS, 0.0) for name in layers}
    for i, sp in enumerate(spans):
        row = out.setdefault(sp.layer, dict.fromkeys(LAYER_FIELDS, 0.0))
        own = self_intervals(sp, spans)
        busy = 0.0
        mine = by_span.get(i, [])
        for lo, hi in own:
            busy += union_length(clip([(j.submit, j.end) for j in mine], lo, hi))
        st = self_time(sp, spans)
        row["calls"] += 1
        row["self_s"] += st
        row["driver_gap_s"] += max(0.0, st - busy)
        row["jobs"] += len(mine)
        row["tasks"] += sum(j.tasks for j in mine)
        row["shuffle_write_bytes"] += sum(j.shuffle_write_bytes for j in mine)
        row["spill_bytes"] += sum(j.spill_bytes for j in mine)
        row["failed"] += int(sp.failed) + sum(1 for j in mine if j.failed_tasks)
    return out


class StatusStoreReader:
    """Reads finished jobs, and their stages' shuffle and spill bytes, from
    the SparkContext's status store.  Jobs are serialised to JSON inside the
    JVM with the Jackson mapper Spark's REST API uses, so one call returns
    every retained job."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._last_job = -1

    def new_jobs(self) -> list[Job]:
        """Jobs that finished since the previous call, oldest first."""
        self._sc.listenerBus().waitUntilEmpty()
        rows = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        done = [r for r in rows if r["jobId"] > self._last_job and r.get("completionTime")]
        done.sort(key=lambda r: r["jobId"])
        # a still-running job blocks the cursor so that it is read once done
        running = [r["jobId"] for r in rows if r["jobId"] > self._last_job and not r.get("completionTime")]
        cutoff = min(running) if running else None
        out = []
        for r in done:
            if cutoff is not None and r["jobId"] > cutoff:
                break
            shuffle = spill = 0
            for sid in r["stageIds"]:
                try:
                    st = json.loads(self._mapper.writeValueAsString(self._store.lastStageAttempt(sid)))
                except Exception:  # noqa: BLE001 - stage evicted from the store
                    continue
                shuffle += int(st.get("shuffleWriteBytes") or 0)
                spill += int(st.get("diskBytesSpilled") or 0)
            out.append(
                Job(
                    job_id=r["jobId"],
                    submit=r["submissionTime"] / 1000.0,
                    end=r["completionTime"] / 1000.0,
                    tasks=int(r["numCompletedTasks"]),
                    failed_tasks=int(r["numFailedTasks"]),
                    shuffle_write_bytes=shuffle,
                    spill_bytes=spill,
                )
            )
            self._last_job = r["jobId"]
        return out


class Tracer:
    """Records spans when ``enabled``; when not, ``span`` only yields.  After
    every outermost span the finished jobs are pulled from the status store,
    so the store's retention limit never drops a job before it is read."""

    def __init__(self, reader: StatusStoreReader | None = None):
        self.reader = reader
        self.enabled = reader is not None
        self.spans: list[Span] = []
        self.jobs: list[Job] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(layer=layer, start=time.time(), parent=parent)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield sp
        except BaseException:
            sp.failed = True
            raise
        finally:
            sp.end = time.time()
            self._stack.pop()
            if not self._stack:
                self.jobs.extend(self.reader.new_jobs())

    def mark_failed(self, sp: Span | None) -> None:
        if sp is not None:
            sp.failed = True
