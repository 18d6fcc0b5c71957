"""In-memory spans with Spark work counted from the status store.

A span records name, layer, start, end, parent and trace id; spans of
one repetition share a trace id. When the tracer is enabled, each span
also records the Spark jobs that ran inside it, read by diffing the
driver's status store (``sc._jsc.sc().statusStore()``) around the span.
Job ids are allocated sequentially per SparkContext, so the jobs of a
span are exactly the ids allocated between its start and end, whichever
thread submitted them: jobs launched from library thread pools are
counted too, which job-group attribution would miss.

The tracer's own bookkeeping (status-store reads) is recorded as
``tracer`` spans, so it is excluded from the self time of the layer
that happened to be open and reported as a layer of its own.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

SPARK_COUNTS = (
    "jobs",
    "stages",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class StatusStoreCounter:
    """Spark work per job id range, read from the in-process status store."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._next = 0  # first job id not yet seen in the store
        self._stages: dict[int, dict] = {}
        self._job_stages: dict[int, list[int]] = {}
        self.sync()

    def sync(self) -> int:
        """Wait for queued listener events, then return the first job id
        not yet in the store (probing forward from the last one seen)."""
        self._bus.waitUntilEmpty()
        while True:
            try:
                job = self._store.job(self._next)
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                return self._next
            ids = job.stageIds()
            self._job_stages[self._next] = [ids.apply(i) for i in range(ids.size())]
            self._next += 1

    def _stage(self, sid: int) -> dict | None:
        if sid not in self._stages:
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                return None
            if s.status().toString() == "SKIPPED":
                return None
            self._stages[sid] = {
                "tasks": s.numTasks(),
                "exec_run_s": s.executorRunTime() / 1e3,
                "exec_cpu_s": s.executorCpuTime() / 1e9,
                "input_bytes": s.inputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.diskBytesSpilled() + s.memoryBytesSpilled(),
            }
        return self._stages[sid]

    def counts(self, first: int, end: int) -> dict:
        """Totals over jobs ``first <= id < end`` (stages deduplicated)."""
        out = dict.fromkeys(SPARK_COUNTS, 0)
        out["jobs"] = end - first
        seen = set()
        for jid in range(first, end):
            for sid in self._job_stages.get(jid, ()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._stage(sid)
                if st is None:
                    continue
                out["stages"] += 1
                for k, v in st.items():
                    out[k] += v
        return out


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes every span a no-op."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._trace = 0
        self._t0 = time.perf_counter()
        self.counter = StatusStoreCounter(spark) if (enabled and spark is not None) else None

    def new_trace(self) -> int:
        """Start a new trace id: the root spans opened next share it."""
        self._trace += 1
        return self._trace

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Record one span; the yielded dict takes extra counts/attrs."""
        if not self.enabled:
            yield {}
            return
        first_job = self._bookkeep(lambda: self.counter.sync()) if self.counter else None
        rec = {
            "id": next(self._ids),
            "trace": self._trace,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "attrs": dict(attrs),
        }
        self._stack.append(rec)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self.spans.append(rec)
            if self.counter is not None:
                end_job = self._bookkeep(lambda: self.counter.sync(), parent=rec["parent"])
                rec["spark"] = self._bookkeep(
                    lambda: self.counter.counts(first_job, end_job), parent=rec["parent"]
                )

    def call(self, name: str, layer: str, fn, *args):
        """``fn(*args)`` inside a span."""
        with self.span(name, layer):
            return fn(*args)

    def _bookkeep(self, fn, parent=None):
        t = time.perf_counter() - self._t0
        out = fn()
        if parent is None and self._stack:
            parent = self._stack[-1]["id"]
        self.spans.append(
            {
                "id": next(self._ids),
                "trace": self._trace,
                "parent": parent,
                "name": "status_store",
                "layer": "tracer",
                "start": t,
                "end": time.perf_counter() - self._t0,
                "attrs": {},
            }
        )
        return out

    # ------------------------------------------------------------ summary

    def self_times(self) -> dict[str, float]:
        """Per layer: Σ (span duration − the part its child spans cover)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], ())):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def select(self, name: str | None = None, layer: str | None = None) -> list[dict]:
        return [
            s
            for s in self.spans
            if (name is None or s["name"] == name) and (layer is None or s["layer"] == layer)
        ]

    def spark_total(self, spans: list[dict]) -> dict:
        out = dict.fromkeys(SPARK_COUNTS, 0)
        for s in spans:
            for k, v in s.get("spark", {}).items():
                out[k] += v
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
