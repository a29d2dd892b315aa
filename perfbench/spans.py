"""Spans around the package's public calls, installed at run time.

Only the traced run (``--trace 1``) installs the wrappers; the untraced run
executes the package untouched. A span records name, start, end, parent and
the Spark jobs that ran while it was the innermost span on its thread: each
span sets its own job group (a thread-local Spark property, so the wrapper
sets it in the thread that makes the call, which for ``foreachBatch`` is the
streaming thread) and the jobs are read back with
``statusTracker().getJobIdsForGroup`` once the listener bus has drained.
Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field
from typing import Optional

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    pass_index: Optional[int]
    start: float = 0.0
    end: float = 0.0
    self_jobs: int = 0
    jobs: int = 0  # inclusive of child spans
    self_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Stands in for the tracer in untraced runs: spans cost nothing."""

    pass_index: Optional[int] = None

    def span(self, name: str):
        return nullcontext()


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.pass_index: Optional[int] = None
        self.streams: list = []  # (pass_index, StreamingQuery)
        self._ids = itertools.count()
        self._local = threading.local()
        self._main_stack = self._stack()
        self._counted = 0

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a callback thread (foreachBatch) starts with an empty stack: its
        # parent is the span the main thread has open while it waits
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = Span(next(self._ids), name, parent.id if parent else None, self.pass_index)
        prev_group = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, f"perfbench-{sp.id}")
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev_group)
            self.spans.append(sp)

    def count_jobs(self) -> None:
        """Attach job counts to the spans closed since the last call."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for sp in self.spans[self._counted :]:
            sp.self_jobs = len(tracker.getJobIdsForGroup(f"perfbench-{sp.id}"))
        self._counted = len(self.spans)


def _wrap(tracer: Tracer, name: str, fn, on_result=None):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name) as sp:
            out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(sp, out)
            return out

    return traced


def _rebind(module_prefix: str, original, replacement) -> int:
    """Point every module-level alias of ``original`` at ``replacement``:
    functions imported by name (``from ..session import load_table``) are
    separate bindings that patching the defining module would miss."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == module_prefix or name.startswith(module_prefix + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)
                n += 1
    return n


def install(tracer: Tracer) -> None:
    """Wrap the ingest and analytics layers' public calls."""
    from data_ingestion_spark import logs, pipeline, rules, session
    from data_ingestion_spark.queries import merged_queries
    from data_ingestion_spark.sinks.parquet_sink import ParquetSink
    from data_ingestion_spark.sources import dispatch
    from data_ingestion_spark.streaming import ingest_stream, s3_events

    merged_queries()  # import every registry module before rebinding aliases

    def patch(cls, attr, name, on_result=None):
        setattr(cls, attr, _wrap(tracer, name, getattr(cls, attr), on_result))

    def rows(sp, n):
        sp.attrs["rows"] = n

    patch(rules.RuleSet, "match_or_raise", "rules.match")
    patch(logs.IngestionLogWriter, "insert_log", "logs.write")
    patch(logs.IngestionLogWriter, "finalize_log", "logs.write")
    patch(logs.IngestionLogWriter, "successful_files", "logs.guard")
    patch(ParquetSink, "insert_documents", "sinks.insert", rows)
    patch(pipeline.IngestionPipeline, "process_file", "pipeline.process_file")
    patch(ingest_stream.SqsFrontDoorLoop, "_process_batch", "streaming.foreach_batch")
    patch(ingest_stream.SqsFrontDoorLoop, "run_available", "streaming.run")

    start = ingest_stream.SqsFrontDoorLoop.start

    @functools.wraps(start)
    def start_and_keep(self, *args, **kwargs):
        query = start(self, *args, **kwargs)
        tracer.streams.append((tracer.pass_index, query))
        return query

    ingest_stream.SqsFrontDoorLoop.start = start_and_keep

    def time_collect(sp, df):
        # the decode is lazy: its work runs in the caller's collect()
        collect = df.collect

        def traced_collect():
            with tracer.span("streaming.decode"):
                return collect()

        df.collect = traced_collect

    decode = s3_events.s3_event_files
    _rebind("data_ingestion_spark", decode, _wrap(tracer, "streaming.decode", decode, time_collect))
    parse = dispatch.parse_file
    _rebind("data_ingestion_spark", parse, _wrap(tracer, "sources.parse", parse))
    load = session.load_table
    _rebind("data_ingestion_spark", load, _wrap(tracer, "session.load_table", load))


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------
def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of the intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def finalize(spans: list[Span], eps: float = 1e-3) -> list[str]:
    """Fill self time and inclusive jobs; return reconciliation errors,
    one per child span that starts before or ends after its parent."""
    by_id = {sp.id: sp for sp in spans}
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None and sp.parent in by_id:
            children.setdefault(sp.parent, []).append(sp)

    def depth(sp: Span) -> int:
        d = 0
        while sp.parent in by_id:
            sp, d = by_id[sp.parent], d + 1
        return d

    errors = []
    # deepest first, so every child's inclusive job count is final
    # before its parent sums it
    for sp in sorted(spans, key=depth, reverse=True):
        kids = children.get(sp.id, [])
        for k in kids:
            if k.start < sp.start - eps or k.end > sp.end + eps:
                errors.append(f"span {k.name}#{k.id} outside parent {sp.name}#{sp.id}")
        sp.self_s = max(sp.duration - _covered([(k.start, k.end) for k in kids]), 0.0)
        sp.jobs = sp.self_jobs + sum(k.jobs for k in kids)
    return errors


def dump(spans: list[Span]) -> list[dict]:
    return [dict(asdict(sp), duration=sp.duration) for sp in spans]
