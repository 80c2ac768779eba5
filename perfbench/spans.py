"""Spans recorded from outside the program, and Spark's job/stage
counters attributed to them.

A span is opened by the benchmark around each call into a layer (an op
such as ``run_etl``, or a layer function the op calls, wrapped by
:func:`wrap_layers`). Spans live in memory and are written out once, at
the end of the run.

Counters come from Spark's status store (it is populated with the UI
off), never from a job group: ``run_etl`` submits from its own thread
pool, whose threads do not inherit one. A job belongs to the op whose
span contains its submission time -- sound because the benchmark makes
one op call at a time -- and, within the op, to the span named by its
job description (``etl: write <table>``, set by the program) or else to
the innermost span containing its submission time. An ``etl`` job with
no description is ``unattributed``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    thread: str


class Tracer:
    """Spans plus per-span Spark counters for one benchmark run."""

    def __init__(self, spark, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: Span | None = None
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._next_job = 0
        #: (op span id, bucket) -> counter -> value
        self.counters: dict[tuple[int, str], dict[str, float]] = (
            defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
        )
        self.skip_existing_jobs()

    def skip_existing_jobs(self) -> None:
        """Counters start from the next job submitted."""
        while self._job(self._next_job) is not None:
            self._next_job += 1

    @contextlib.contextmanager
    def span(self, name: str, op: bool = False):
        """Record a span. ``op=True`` marks a top-level call: the jobs
        submitted while it is open are read and attributed when it ends.
        Spans opened on other threads while an op is open (the program's
        own pools) take the op as parent."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1].id if stack else (
            self._op.id if self._op is not None else None
        )
        s = Span(next(self._ids), name, time.time(), 0.0, parent,
                 self.run_id, threading.current_thread().name)
        stack.append(s)
        if op:
            self._op = s
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self.spans.append(s)
            if op:
                self._op = None
                self._attribute(s)

    def self_time(self, span: Span) -> float:
        """Span time minus the part of it its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans
                      if c.parent == span.id)
        covered, lo, hi = 0.0, None, None
        for a, b in kids:
            a, b = max(a, span.start), min(b, span.end)
            if hi is None or a > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        if hi is not None:
            covered += hi - lo
        return span.end - span.start - covered

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError:  # NoSuchElementException: not submitted yet
            return None

    def _attribute(self, op: Span) -> None:
        inner = [s for s in self.spans
                 if s.id != op.id and op.start <= s.start <= op.end]
        while True:
            job = self._job(self._next_job)
            if job is None:
                break
            self._next_job += 1
            submitted = job.submissionTime().get().getTime() / 1000.0
            if not op.start - 0.001 <= submitted <= op.end + 0.001:
                continue
            desc = job.description()
            if desc.isDefined() and str(desc.get()).startswith("etl: "):
                # "etl: write <table>" -> "<table>"
                bucket = str(desc.get()).split()[-1]
            else:
                holders = [s for s in inner
                           if s.start <= submitted <= s.end]
                if holders:
                    bucket = max(holders, key=lambda s: s.start).name
                elif op.name == "etl":
                    bucket = "unattributed"
                else:
                    bucket = "self"
            c = self.counters[(op.id, bucket)]
            c["jobs"] += 1
            ids = job.stageIds().iterator()
            while ids.hasNext():
                st = self._store.lastStageAttempt(ids.next())
                c["tasks"] += st.numCompleteTasks()
                c["cpu_s"] += st.executorCpuTime() / 1e9
                c["shuffle_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )

    def op_totals(self, op: Span) -> dict[str, float]:
        total = dict.fromkeys(COUNTERS, 0)
        for (op_id, _), c in self.counters.items():
            if op_id == op.id:
                for k in COUNTERS:
                    total[k] += c[k]
        return total

    def write(self, path: str) -> None:
        """Every span, with its self time and attributed counters."""
        counters = defaultdict(dict)
        for (op_id, bucket), c in self.counters.items():
            counters[op_id][bucket] = c
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = asdict(s)
                rec["self_s"] = self.self_time(s)
                if s.id in counters:
                    rec["counters"] = counters[s.id]
                fh.write(json.dumps(rec) + "\n")


#: layer span name -> (module, function) that ``run_etl_increment`` and
#: the streaming sink call
LAYER_FUNCTIONS = {
    "ingest": ("sales_data_warehouse_spark.etl", "ingest_csv"),
    "cleanse": ("sales_data_warehouse_spark.etl", "cleanse"),
    "merge_time": ("sales_data_warehouse_spark.etl", "merge_time_dimension"),
    "merge_location": (
        "sales_data_warehouse_spark.etl", "merge_location_dimension"),
    "merge_product": (
        "sales_data_warehouse_spark.etl", "merge_product_dimension"),
    "fact": ("sales_data_warehouse_spark.etl", "build_fact"),
    "append": ("sales_data_warehouse_spark.etl", "write_table"),
    "stream": ("sales_data_warehouse_spark.streaming.ingest",
               "etl_batch_sink"),
}


@contextlib.contextmanager
def wrap_layers(tracer: Tracer):
    """Open a span around every call into a layer, by rebinding the
    names the calling modules look up, for the duration."""
    import importlib

    saved = []
    for layer, (mod_name, fn_name) in LAYER_FUNCTIONS.items():
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, fn_name)
        saved.append((mod, fn_name, fn))
        setattr(mod, fn_name, _spanned(tracer, layer, fn))
    try:
        yield
    finally:
        for mod, fn_name, fn in saved:
            setattr(mod, fn_name, fn)


def _spanned(tracer: Tracer, layer: str, fn):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(layer):
            return fn(*args, **kwargs)
    return call
