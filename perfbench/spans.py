"""Spans, Spark job attribution and the per-layer roll-up.

The benchmark records a span around every call it makes into a layer
of the engine. Spans live in memory and are summarised when the run
ends. With tracing on, each span also becomes the Spark job group of
the calling thread, so the uncompressed event log written by the
session ties every job and stage back to the span that launched it.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Stage accumulables summed per span (event-log names → metric keys).
STAGE_SUMS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "data sent to Python workers": "arrow_to_python_bytes",
    "data returned from Python workers": "arrow_from_python_bytes",
}


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans are recorded in every run, since a
    span is two clock reads. Spark job-group tagging is on once ``spark``
    is set, which the engine does in traced runs only."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spark = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"pb-{span.sid}", span.name)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(next(self._ids), name, layer, parent.sid if parent else None,
                      time.perf_counter(), attrs=attrs)
            self.spans.append(sp)
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._set_group(parent)

    def wrap(self, owner, attr: str, name: str, layer: str) -> None:
        """Replace ``owner.attr`` with a spanned call-through (traced
        runs only; engine modules look these names up at call time)."""
        fn = getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self, t0: float, t1: float) -> dict[str, float]:
        """Per-layer self time of the spans inside [t0, t1]: each span's
        duration minus the part its child spans cover. Spans of several
        threads may overlap, so sums can exceed the window."""
        inside = [s for s in self.spans if s.start >= t0 and s.end <= t1 and s.end]
        kids: dict[int, list[Span]] = {}
        for s in inside:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in inside:
            covered = union_length([(c.start, c.end) for c in kids.get(s.sid, [])])
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, s.dur - covered)
        return out


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    stage_spans: list = field(default_factory=list)
    sums: dict = field(default_factory=dict)

    def add(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.stage_spans += other.stage_spans
        for k, v in other.sums.items():
            self.sums[k] = self.sums.get(k, 0) + v

    @property
    def stage_union_s(self) -> float:
        return union_length(self.stage_spans) / 1000.0


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per-job-group totals from the (finished) application's event
    log: jobs, completed stages, tasks, stage wall spans (epoch ms) and
    the summed stage accumulables of ``STAGE_SUMS``."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not files:
        return {}
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    with open(files[-1], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                g = groups.setdefault(gid, GroupStats())
                g.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = gid
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = groups.setdefault(stage_group.get(info["Stage ID"], ""), GroupStats())
                g.stages += 1
                g.tasks += info.get("Number of Tasks", 0)
                if "Submission Time" in info and "Completion Time" in info:
                    g.stage_spans.append(
                        (info["Submission Time"], info["Completion Time"])
                    )
                for acc in info.get("Accumulables", []):
                    key = STAGE_SUMS.get(acc.get("Name"))
                    if key is not None:
                        try:
                            g.sums[key] = g.sums.get(key, 0) + int(acc.get("Value", 0))
                        except (TypeError, ValueError):
                            pass
    return groups


def stats_for(groups: dict[str, GroupStats], tracer: Tracer, spans) -> GroupStats:
    """Totals over the given spans and every span nested under them."""
    wanted = {s.sid for s in spans}
    changed = True
    while changed:
        changed = False
        for s in tracer.spans:
            if s.parent in wanted and s.sid not in wanted:
                wanted.add(s.sid)
                changed = True
    out = GroupStats()
    for sid in wanted:
        g = groups.get(f"pb-{sid}")
        if g is not None:
            out.add(g)
    return out


class ProgressLog:
    """Structured Streaming progress, collected by a listener attached
    in traced runs (durations per trigger, in ms)."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def attach(self, spark) -> object:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with log._lock:
                    log.progress.append(dict(p.durationMs or {}))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = _Listener()
        spark.streams.addListener(listener)
        return listener
