"""Span recording around the apply path's public callables, and Spark
event-log attribution of the jobs each span launched.

A traced run installs wrappers (``Tracer.install``) around the public
callables listed in ``SPANS``. Each wrapper records a span (name, start,
end, parent) in memory and sets the Spark local property
``perfbench.span`` to its name for the duration of the call, so every
Spark job the call launches carries the span's name in the event log.
Spans nest through one process-wide stack: the streaming
``foreachBatch`` callback runs on another Python thread while the
caller blocks in ``run_streaming_apply``, so its spans are children of
that call.

After the session stops, ``parse_event_log`` reads the event log and
``layer_metrics`` joins jobs and tasks to spans. Everything below
``Tracer`` is pure Python and unit-tested without Spark.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from collections import Counter
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"
UNATTRIBUTED = "unattributed"

# (span name, module, attribute path) — the layers on the apply path
SPANS = (
    ("pipeline.run_feed", "omniparser_spark.cdc.pipeline", "CdcPipeline.run_feed"),
    ("pipeline.run", "omniparser_spark.cdc.pipeline", "CdcPipeline.run"),
    ("pipeline.apply_batch", "omniparser_spark.cdc.pipeline", "CdcPipeline.apply_batch"),
    ("normalize.normalize_flagged", "omniparser_spark.operators.normalize", "normalize_flagged"),
    ("merge.merge_into", "omniparser_spark.lake.merge", "merge_into"),
    ("table.commit", "omniparser_spark.lake.table", "LakeTable.commit"),
    ("table.commit_delta", "omniparser_spark.lake.table", "LakeTable.commit_delta"),
    ("table.expire_snapshots", "omniparser_spark.lake.table", "LakeTable.expire_snapshots"),
    ("table.compact_buckets", "omniparser_spark.lake.table", "LakeTable.compact_buckets"),
    ("checkpoints.commit", "omniparser_spark.cdc.checkpoints", "CheckpointStore.commit"),
    ("stream.run_streaming_apply", "omniparser_spark.streaming.stream", "run_streaming_apply"),
    ("views.sync_rollup_view", "omniparser_spark.lake.views", "sync_rollup_view"),
)
SPAN_NAMES = tuple(s[0] for s in SPANS)
SPAN_FIELDS = (
    "calls", "self_s", "driver_s", "jobs", "tasks", "task_s",
    "shuffle_bytes", "output_bytes",
)
# call counters without a span (too frequent to tag jobs for)
COUNTERS = (("table.current", "omniparser_spark.lake.table", "LakeTable.current"),)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


class Tracer:
    """In-memory span recorder. `sc` (a SparkContext) is optional so the
    nesting logic can be tested without Spark."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        with self._lock:
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, time.time(), parent=parent))
            self._stack.append(idx)
        prev = self._set_tag(name)
        try:
            yield
        finally:
            self._set_tag(prev)
            with self._lock:
                self.spans[idx].end = time.time()
                self._stack.remove(idx)

    def _set_tag(self, value: str | None) -> str | None:
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty(SPAN_PROPERTY)
        self.sc.setLocalProperty(SPAN_PROPERTY, value)
        return prev

    def count(self, name: str) -> None:
        with self._lock:
            self.counts[name] += 1

    @contextmanager
    def install(self) -> Iterator[None]:
        """Wrap every callable in SPANS / COUNTERS for the duration of
        the block, then restore the originals."""
        undo: list[tuple[object, str, object]] = []
        try:
            for name, module, attr in SPANS:
                undo += _patch(module, attr, lambda f, n=name: self._spanned(n, f))
            for name, module, attr in COUNTERS:
                undo += _patch(module, attr, lambda f, n=name: self._counted(n, f))
            yield
        finally:
            for owner, attr, orig in reversed(undo):
                setattr(owner, attr, orig)

    def _spanned(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _counted(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.count(name)
            return fn(*args, **kwargs)

        return wrapper


def _patch(module: str, attr: str, make_wrapper) -> list[tuple[object, str, object]]:
    """Replace `module.attr` (a function, or `Class.method`) with
    make_wrapper(original). A module-level function is replaced in every
    loaded module that imported it by name, so call sites that did
    ``from x import f`` see the wrapper too."""
    mod = importlib.import_module(module)
    if "." in attr:
        cls_name, meth = attr.split(".")
        cls = getattr(mod, cls_name)
        orig = cls.__dict__[meth]
        setattr(cls, meth, make_wrapper(orig))
        return [(cls, meth, orig)]
    orig = getattr(mod, attr)
    wrapped = make_wrapper(orig)
    undo = []
    for m in list(sys.modules.values()):
        mname = getattr(m, "__name__", "")
        if not (mname.startswith("omniparser_spark") or mname.startswith("perfbench")):
            continue
        if vars(m).get(attr) is orig:
            setattr(m, attr, wrapped)
            undo.append((m, attr, orig))
    return undo


# ---------------------------------------------------------------- intervals


def _union(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def subtract(
    base: Iterable[tuple[float, float]], cuts: Iterable[tuple[float, float]]
) -> list[tuple[float, float]]:
    """Parts of `base` not covered by any interval in `cuts`."""
    cut = _union(cuts)
    out: list[tuple[float, float]] = []
    for a, b in _union(base):
        pos = a
        for c, d in cut:
            if d <= pos or c >= b:
                continue
            if c > pos:
                out.append((pos, c))
            pos = max(pos, d)
        if pos < b:
            out.append((pos, b))
    return out


def length(intervals: Iterable[tuple[float, float]]) -> float:
    return sum(b - a for a, b in intervals)


def self_intervals(spans: list[Span]) -> list[list[tuple[float, float]]]:
    """Per span: its interval minus the intervals of its direct children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [subtract([(s.start, s.end)], children.get(i, [])) for i, s in enumerate(spans)]


# ---------------------------------------------------------------- event log


@dataclass
class EventLog:
    # job id -> {"span", "start", "end"} (times in epoch seconds)
    jobs: dict[int, dict] = field(default_factory=dict)
    # stage id -> owning job id (the first job that lists the stage)
    stage_job: dict[int, int] = field(default_factory=dict)
    # one dict per finished task: stage, duration_s, shuffle_bytes, output_bytes
    tasks: list[dict] = field(default_factory=list)


def parse_event_log(lines: Iterable[str]) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = int(ev["Job ID"])
            props = ev.get("Properties") or {}
            log.jobs[jid] = {
                "span": props.get(SPAN_PROPERTY),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in ev.get("Stage IDs", []):
                log.stage_job.setdefault(int(sid), jid)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(int(ev["Job ID"]))
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            metrics = ev.get("Task Metrics") or {}
            shuffle = metrics.get("Shuffle Write Metrics") or {}
            output = metrics.get("Output Metrics") or {}
            log.tasks.append(
                {
                    "stage": int(ev["Stage ID"]),
                    "duration_s": max(
                        0.0, (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    ),
                    "shuffle_bytes": int(shuffle.get("Shuffle Bytes Written", 0)),
                    "output_bytes": int(output.get("Bytes Written", 0)),
                }
            )
    for job in log.jobs.values():
        if job["end"] is None:
            job["end"] = job["start"]
    return log


def jobs_in_window(log: EventLog, intervals: list[tuple[float, float]]) -> set[int]:
    """Jobs submitted within any of `intervals` (epoch seconds)."""
    return {
        j for j, job in log.jobs.items()
        if any(a <= job["start"] <= b for a, b in intervals)
    }


def output_bytes(log: EventLog, jobs: set[int]) -> int:
    return sum(
        t["output_bytes"] for t in log.tasks if log.stage_job.get(t["stage"]) in jobs
    )


def layer_metrics(
    spans: list[Span], log: EventLog, window: list[tuple[float, float]]
) -> dict[str, float]:
    """Per-span metrics (``<span>.<field>`` for every span in SPAN_NAMES
    and field in SPAN_FIELDS) plus ``trace.unattributed_task_s`` and
    ``trace.attributed_frac``.

    A job belongs to the span named by its ``perfbench.span`` property.
    Jobs submitted inside the `window` intervals with no known span name
    are unattributed; jobs outside them (set-up, untraced steps, checks)
    are ignored."""
    out: dict[str, float] = {f"{n}.{f}": 0 for n in SPAN_NAMES for f in SPAN_FIELDS}
    own_jobs: dict[str, list[tuple[float, float]]] = {}
    job_span: dict[int, str] = {}
    in_window = jobs_in_window(log, window)
    for jid, job in log.jobs.items():
        name = job["span"]
        if name in SPAN_NAMES:
            job_span[jid] = name
            own_jobs.setdefault(name, []).append((job["start"], job["end"]))
            out[f"{name}.jobs"] += 1
        elif jid in in_window:
            job_span[jid] = UNATTRIBUTED
    unattributed = 0.0
    for t in log.tasks:
        name = job_span.get(log.stage_job.get(t["stage"], -1))
        if name is None:
            continue
        if name == UNATTRIBUTED:
            unattributed += t["duration_s"]
            continue
        out[f"{name}.tasks"] += 1
        out[f"{name}.task_s"] += t["duration_s"]
        out[f"{name}.shuffle_bytes"] += t["shuffle_bytes"]
        out[f"{name}.output_bytes"] += t["output_bytes"]
    for s, own in zip(spans, self_intervals(spans)):
        if s.name not in SPAN_NAMES:
            continue
        out[f"{s.name}.calls"] += 1
        out[f"{s.name}.self_s"] += length(own)
        out[f"{s.name}.driver_s"] += length(subtract(own, own_jobs.get(s.name, [])))
    attributed = sum(out[f"{n}.task_s"] for n in SPAN_NAMES)
    out["trace.unattributed_task_s"] = unattributed
    total = attributed + unattributed
    out["trace.attributed_frac"] = attributed / total if total else 1.0
    return out
