"""Spans around the benchmark's calls into each layer, plus the Spark
status-store records that say what those calls cost inside the engine.

A ``Tracer`` keeps its spans in memory. With tracing on, every span also
tags the calling thread's Spark jobs with the job group ``span-<id>``, and
after the run each span is given the number of jobs and tasks that ran
under its group (a query's or a request's own jobs). With tracing off,
spans still time the call (the workloads read their end-to-end numbers
from them) but touch nothing in Spark.

Stage and job records come from ``statusStore().stageList`` /
``jobsList``, which answer with the UI disabled. They are read once, after
the measured phases, serialized to JSON inside the JVM by one Jackson
call. Layer roll-ups take the stages submitted inside the layer's span
windows, which also catches jobs started on threads the benchmark does
not own (a streaming query's micro-batches). The traced run raises
Spark's retained job/stage limits so no record is evicted before it is
read.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import dataclass, field

# Extra Spark confs for a traced run: keep every job and stage record.
TRACE_CONFS = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request_id: str | None = None
    jobs: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    enabled: bool
    spark: object | None = None
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, request_id: str | None = None):
        """Time one call into a layer; yields the open span. ``parent`` is
        the id of the span that caused this one, when it is not the
        enclosing span of the same thread."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sp = Span(next(self._ids), name, 0.0, parent=parent, request_id=request_id)
        if self.enabled and self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"span-{sp.id}", name)
        stack.append(sp.id)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "request_id": s.request_id,
             "jobs": s.jobs, "tasks": s.tasks}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]

    def count_jobs(self, jobs: list[dict]) -> None:
        """Credit each status-store job to the span named by its job group."""
        by_id = {s.id: s for s in self.spans}
        for job in jobs:
            group = job.get("jobGroup") or ""
            if group.startswith("span-") and int(group[5:]) in by_id:
                sp = by_id[int(group[5:])]
                sp.jobs += 1
                sp.tasks += job.get("numTasks", 0)


def status_records(spark) -> tuple[list[dict], list[dict]]:
    """Every retained stage attempt and job, as dicts in the JSON form of
    Spark's ``StageData`` / ``JobData``; each stage also gets the
    ``jobIds`` of the jobs that ran it. Times are epoch milliseconds."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    stages = json.loads(mapper.writeValueAsString(store.stageList(None, *defaults)))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    by_stage: dict[int, list[dict]] = {}
    for job in jobs:
        for sid in job.get("stageIds", []):
            by_stage.setdefault(sid, []).append(job)
    for st in stages:
        st["jobIds"] = [j["jobId"] for j in by_stage.get(st["stageId"], [])]
    return stages, jobs


def in_window(stages: list[dict], spans: list[Span]) -> list[dict]:
    """Stage attempts submitted inside any of ``spans``."""
    windows = [(s.start * 1000.0, s.end * 1000.0) for s in spans]
    return [
        st for st in stages
        if st.get("submissionTime") is not None
        and any(lo <= st["submissionTime"] <= hi for lo, hi in windows)
    ]
