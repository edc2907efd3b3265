"""Traced mode: spans around the program's public functions, and Spark's
event log reduced to per-span work counters.

Spans are recorded from outside the program: ``install`` replaces each
traced function in the namespace it is looked up from with a wrapper that
times the call, and ``uninstall`` puts the originals back. Spans live in
memory until the run ends.

Spark counters come from the event log (``spark.eventLog.enabled`` with
compression off), attributed by time window: a job, stage or task belongs
to the innermost span whose interval contains its submission or launch
time. Job groups are not used, because Structured Streaming runs many of
its jobs on its own threads without the caller's group.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

# Layer name -> span name used in per-layer metrics.
SPANS = {
    "pipeline.run_enrich": "pipeline.enrich",
    "pipeline.run_gold": "pipeline.gold",
    "pipeline.build_fct_sales_minute": "operators.fact",
    "quality.gold_fact_suite": "quality.checks",
    "quality.run_checks": "quality.checks",
    "lake.ParquetTable.merge": "lake.merge",
    "lake.ParquetTable.overwrite": "lake.overwrite",
}
# Spans the workloads record themselves: a streaming cycle and its drains
# (from the program's ``phases`` split), a query's registry call and action.
OWN_SPANS = (
    "streaming.cycle",
    "streaming.bronze_drain",
    "streaming.silver_drain",
    "queries.build",
    "queries.action",
)
# Spark counter -> unit.
COUNTERS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    bytes_written: int = 0


@dataclass
class Tracer:
    """Spans of one run. Each thread nests its own spans: streaming
    ``foreachBatch`` callbacks run on py4j callback threads, concurrently
    with the main thread and with each other."""

    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _saved: list[tuple[object, str, object]] = field(default_factory=list)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> int:
        stack = self._stack()
        span = Span(name, time.time(), parent=stack[-1] if stack else None)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.time()
        self._stack().remove(idx)
        return span

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield
        finally:
            self.close(idx)

    def install(self) -> None:
        """Wrap every function in SPANS where the program looks it up."""
        from ecommerce_data_pipeline_spark import lake, pipeline, quality

        owners = {"pipeline": pipeline, "quality": quality, "lake": lake}
        for dotted, span_name in SPANS.items():
            parts = dotted.split(".")
            owner = owners[parts[0]]
            for attr in parts[1:-1]:
                owner = getattr(owner, attr)
            fn = getattr(owner, parts[-1])
            self._saved.append((owner, parts[-1], fn))
            wrapped = self._wrap(fn, span_name)
            setattr(owner, parts[-1], wrapped)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    def _wrap(self, fn, span_name: str):
        tracer = self
        is_write = span_name in ("lake.merge", "lake.overwrite")

        def wrapper(*args, **kwargs):
            before = _files(args[0].path) if is_write else None
            idx = tracer.open(span_name)
            try:
                return fn(*args, **kwargs)
            finally:
                span = tracer.close(idx)
                if is_write:
                    after = _files(args[0].path)
                    span.bytes_written = sum(
                        size for path, size in after.items() if path not in before
                    )

        wrapper.__wrapped__ = fn
        return wrapper

    # -- reduction ----------------------------------------------------------

    def totals(self, name: str, outside: str | None = None) -> tuple[float, int, int]:
        """(total seconds, calls, bytes written) of the spans called
        ``name``, counting a span nested in a same-named span once and
        skipping spans nested in one called ``outside``."""
        secs, calls, written = 0.0, 0, 0
        for span in self.spans:
            if span.name != name or self._has_ancestor(span, name):
                continue
            if outside is not None and self._has_ancestor(span, outside):
                continue
            secs += span.end - span.start
            calls += 1
            written += span.bytes_written
        return secs, calls, written

    def _has_ancestor(self, span: Span, name: str) -> bool:
        p = span.parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def owner_chain(self, t_ms: float) -> list[str]:
        """Names of every span open at ``t_ms`` (epoch milliseconds)."""
        t = t_ms / 1000.0
        return [s.name for s in self.spans if s.start <= t <= (s.end or float("inf"))]


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def spark_counters(tracer: Tracer, log_dir: str) -> dict[str, dict[str, float]]:
    """Per-span Spark counters from the event log under ``log_dir``.

    Each job and stage counts toward every span open at its submission
    time, each task toward every span open at its launch time; a span's
    counters are therefore inclusive of its children, like its time."""
    names = list(dict.fromkeys(SPANS.values())) + list(OWN_SPANS)
    out = {n: dict.fromkeys(COUNTERS, 0.0) for n in names}

    def add(t_ms, key, val):
        for name in set(tracer.owner_chain(t_ms)):
            if name in out:
                out[name][key] += val

    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    add(ev["Submission Time"], "jobs", 1)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:
                        add(info["Submission Time"], "stages", 1)
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    t = info["Launch Time"]
                    add(t, "tasks", 1)
                    add(t, "executor_cpu_s", m.get("Executor CPU Time", 0) / 1e9)
                    add(t, "gc_s", m.get("JVM GC Time", 0) / 1e3)
                    add(t, "shuffle_bytes", m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                    add(t, "spill_bytes", m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0))
    return out
