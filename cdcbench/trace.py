"""Spans recorded from outside the program, and Spark stage metrics read
from Spark's own event log.

The tracer wraps the public entry points of each layer. Where a caller
imported a name (``from seatunnel_spark.lake.merge import merge_into``), the
caller's binding is wrapped too, so the call the program actually makes is
the one timed. Spans stay in memory; nothing is written until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time


class Span:
    __slots__ = ("name", "start", "end", "parent", "batch", "result")

    def __init__(self, name: str, start: float, parent: int | None, batch):
        self.name = name
        self.start = start
        self.end: float | None = None
        self.parent = parent
        self.batch = batch
        self.result = None

    @property
    def dur(self) -> float:
        return self.end - self.start


# (module, attribute, span name): the layer entry points on the CDC path.
# A class attribute is given as "Class.method".
CDC_ENTRY_POINTS = [
    ("seatunnel_spark.operators.snapshot", "run_snapshot_phase", "snapshot.run"),
    ("seatunnel_spark.streaming.job", "run_snapshot_phase", "snapshot.run"),
    ("seatunnel_spark.streaming.job", "CdcIngestJob._apply_batch", "job.batch"),
    ("seatunnel_spark.lake.merge", "merge_into", "merge.merge_into"),
    ("seatunnel_spark.streaming.job", "merge_into", "merge.merge_into"),
    ("seatunnel_spark.operators.snapshot", "merge_into", "merge.merge_into"),
    ("seatunnel_spark.lake.merge", "maybe_compact", "merge.maybe_compact"),
    ("seatunnel_spark.lake.table", "LakeTable.commit_snapshot", "table.commit"),
    ("seatunnel_spark.lake.table", "LakeTable.refresh", "table.refresh"),
    ("seatunnel_spark.lake.table", "LakeTable.update_schema", "table.update_schema"),
]


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def open(self, name: str, batch=None) -> int:
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            # a callback thread (foreachBatch) nests under the main thread's
            # innermost open span: the main thread is waiting on that call
            outer = stack or self._stacks.get(self._main, [])
            parent = outer[-1] if outer else None
            if batch is None and parent is not None:
                batch = self.spans[parent].batch
            self.spans.append(Span(name, time.time(), parent, batch))
            idx = len(self.spans) - 1
            stack.append(idx)
            return idx

    def close(self, idx: int) -> None:
        with self._lock:
            self.spans[idx].end = time.time()
            self._stacks[threading.get_ident()].remove(idx)

    @contextlib.contextmanager
    def span(self, name: str, batch=None):
        idx = self.open(name, batch)
        try:
            yield self.spans[idx]
        finally:
            self.close(idx)

    # ------------------------------------------------------------ wrappers
    def install(self, entry_points) -> None:
        for mod_name, attr, span_name in entry_points:
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
                orig = owner.__dict__[attr]
            else:
                orig = getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, span_name))
            self._patched.append((owner, attr, orig))

    def _wrap(self, fn, name: str):
        tracer = self
        batch_arg = name == "job.batch"  # _apply_batch(self, batch, batch_id)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.open(name, batch=args[2] if batch_arg else None)
            try:
                result = fn(*args, **kwargs)
                tracer.spans[idx].result = result
                return result
            finally:
                tracer.close(idx)

        return traced

    def uninstall(self) -> None:
        """Restore every wrapped binding and prove it is restored."""
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)
            now = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            if now is not orig:
                raise RuntimeError(f"trace wrapper left on {owner!r}.{attr}")

    # ------------------------------------------------------------ analysis
    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                out.setdefault(s.parent, []).append(i)
        return out

    def self_times(self) -> list[float]:
        kids = self.children()
        return [
            self_time(s, [self.spans[k] for k in kids.get(i, [])])
            for i, s in enumerate(self.spans)
        ]


def maybe_span(tracer: Tracer | None, name: str):
    """A span when tracing, nothing otherwise (the untraced pass)."""
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it that its children cover (children
    may overlap each other; each instant is subtracted once)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
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
    return span.dur - covered


# ---------------------------------------------------------------- event log

def _num(v) -> int:
    return int(float(v))


def read_event_log(path: str) -> tuple[list[dict], list[float]]:
    """(stages, job submission instants) from an uncompressed event log.
    Each stage: submitted (s), cpu_s, run_s, shuffle_write_bytes,
    spill_bytes, tasks."""
    stages, jobs = [], []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {a["Name"]: a.get("Value", 0) for a in info.get("Accumulables", [])}
                stages.append({
                    "stage_id": info["Stage ID"],
                    "submitted": info["Submission Time"] / 1000.0,
                    "tasks": info["Number of Tasks"],
                    "cpu_s": _num(acc.get("internal.metrics.executorCpuTime", 0)) / 1e9,
                    "run_s": _num(acc.get("internal.metrics.executorRunTime", 0)) / 1e3,
                    "shuffle_write_bytes": _num(acc.get("internal.metrics.shuffle.write.bytesWritten", 0)),
                    "spill_bytes": _num(acc.get("internal.metrics.memoryBytesSpilled", 0))
                    + _num(acc.get("internal.metrics.diskBytesSpilled", 0)),
                })
    return stages, jobs


def innermost(spans: list[Span], t: float) -> int | None:
    """Index of the innermost span open at instant ``t`` (the latest-started
    span containing it; spans nest, so that is the deepest)."""
    best = None
    for i, s in enumerate(spans):
        if s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
            best = i
    return best


def attribute(spans: list[Span], instants: list[float]) -> list[int | None]:
    return [innermost(spans, t) for t in instants]
