"""Span tracing from outside the engine, and the per-layer fold.

A :class:`Tracer` wraps the public functions of each engine module (the
layers) in place, records one span per call that crosses into a layer
from a different layer, and, after the Spark session stops, folds the
session's event log into per-layer counts: every job is charged to the
innermost span that was open when the job was submitted. Timestamps, not
job groups, decide the owner, because jobs submitted from engine thread
pools and from the HTTP handler thread carry no job group of the caller.

Spans are recorded on the thread that created the tracer only, so they
nest properly; calls from other threads pass straight through and their
jobs fall to the span open on the recording thread at that moment.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import threading
import time
from dataclasses import dataclass, field

PKG = "cashback_data_pipeline_spark"

#: layer name -> module. The layer names are the module paths under the
#: package; they name the per-layer metrics in BENCHMARK.json.
LAYERS = {
    "session": f"{PKG}.session",
    "sources.readers": f"{PKG}.sources.readers",
    "sources.manifest_source": f"{PKG}.sources.manifest_source",
    "operators.transform": f"{PKG}.operators.transform",
    "operators.text": f"{PKG}.operators.text",
    "operators.dedup": f"{PKG}.operators.dedup",
    "operators.similarity": f"{PKG}.operators.similarity",
    "operators.retrieval": f"{PKG}.operators.retrieval",
    "sinks.writers": f"{PKG}.sinks.writers",
    "sinks.manifest": f"{PKG}.sinks.manifest",
    "sinks.filestats": f"{PKG}.sinks.filestats",
    "streaming.cdf_source": f"{PKG}.streaming.cdf_source",
    "serving.http_api": f"{PKG}.serving.http_api",
    "plans.pipeline": f"{PKG}.plans.pipeline",
}

#: names plans.pipeline imports from other layers; wrapping them in the
#: pipeline's own namespace splits run_pipeline into its parts
PIPELINE_IMPORTS = {
    "run_reference_pipeline": "operators.transform",
    "write_warehouse": "sinks.writers",
    "append_if_absent": "sinks.writers",
}

#: per-layer counters folded from the event log
JOB_FIELDS = ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_bytes")
LAYER_FIELDS = ("calls", "self_s") + JOB_FIELDS

#: the span layer of the benchmark's own operations (not an engine layer)
BENCH = "bench"


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    depth: int = 0
    group: str | None = None


@dataclass
class JobRecord:
    job_id: int
    submitted: float  # epoch seconds
    group: str
    stages: list[int] = field(default_factory=list)


class Tracer:
    """Records spans around calls into the engine's layers."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._owner = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []
        self._materialized: list = []
        self.recording = False
        self.pruned_considered = 0
        self.pruned_skipped = 0
        self.files_written = 0

    # -- installation -------------------------------------------------------

    def install(self) -> None:
        """Wrap every public function of every layer module in place."""
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(obj):
                    continue
                if obj.__module__ != modname:
                    continue
                self._patch(mod, name, layer, obj)
        pipeline = importlib.import_module(LAYERS["plans.pipeline"])
        for name, layer in PIPELINE_IMPORTS.items():
            self._patch(pipeline, name, layer, getattr(pipeline, name))

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._patches):
            setattr(owner, name, original)
        self._patches.clear()

    def _patch(self, owner, name: str, layer: str, fn) -> None:
        self._patches.append((owner, name, fn))
        setattr(owner, name, self._wrap(layer, fn))

    def _wrap(self, layer: str, fn):
        tracer = self

        # functools.wraps keeps __module__/__qualname__, so cloudpickle
        # pickles the wrapper by reference and a Spark worker resolves
        # the plain function in its own, unpatched import
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer._records_here() or (
                tracer._stack and tracer._stack[-1].layer == layer
            ):
                return fn(*args, **kwargs)
            before = _parquet_files(args, kwargs) if layer == "sinks.writers" else None
            with tracer.span(layer, fn.__name__):
                out = fn(*args, **kwargs)
                if layer.startswith("operators.") and not tracer._inside_operator():
                    out = tracer._materialize(out)
            tracer._observe(fn.__name__, args, out, before, kwargs)
            return out

        return traced

    # -- spans ----------------------------------------------------------------

    def _records_here(self) -> bool:
        return self.recording and threading.get_ident() == self._owner

    def _inside_operator(self) -> bool:
        # the innermost span is the operator call itself
        return any(s.layer.startswith("operators.") for s in self._stack[:-1])

    @contextlib.contextmanager
    def span(self, layer: str, name: str, job_group: bool = False):
        """Record a span; with ``job_group`` also tag the jobs this thread
        submits with the span's id (used to compare attributions)."""
        if not self._records_here():
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            sid=len(self.spans),
            parent=parent.sid if parent else None,
            layer=layer,
            name=name,
            start=time.time(),
            depth=len(self._stack),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if job_group and self.sc is not None:
            sp.group = f"perfbench-{sp.sid}"
            self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sp.group is not None:
                self.sc.setJobGroup("", "")

    @contextlib.contextmanager
    def paused(self):
        """Suspend recording (checks the benchmark makes on the side)."""
        was, self.recording = self.recording, False
        try:
            yield
        finally:
            self.recording = was

    def _materialize(self, out):
        """Compute a lazy operator output inside its own span, so its work
        is charged to the operator and not to whoever consumes it."""
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            out.persist()
            out.count()
            self._materialized.append(out)
        return out

    def release_materialized(self) -> None:
        for df in self._materialized:
            df.unpersist()
        self._materialized.clear()

    def _observe(self, name: str, args, out, before, kwargs) -> None:
        if name == "prune_files" and isinstance(out, tuple):
            self.pruned_considered += len(args[0])
            self.pruned_skipped += int(out[1])
        elif name == "prune_files_bloom" and isinstance(out, tuple):
            self.pruned_skipped += int(out[1])
        if before is not None:
            self.files_written += len(_parquet_files(args, kwargs) - before)

    # -- fold -------------------------------------------------------------------

    def fold(self, event_log_dir: str) -> dict:
        """Charge the event log's jobs to spans; returns per-layer totals,
        per-span job counts, and job-group counts for comparison."""
        jobs, stage_job, stage_ran, task_rows = _read_event_log(event_log_dir)
        owner: dict[int, int | None] = {}
        for job in jobs.values():
            owner[job.job_id] = self._innermost(job.submitted)

        layers = {name: dict.fromkeys(LAYER_FIELDS, 0) for name in list(LAYERS) + [BENCH]}
        child_time: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] = child_time.get(sp.parent, 0.0) + (sp.end - sp.start)
        self_s = {}
        for sp in self.spans:
            own = (sp.end - sp.start) - child_time.get(sp.sid, 0.0)
            self_s[sp.sid] = own
            acc = layers[sp.layer]
            acc["calls"] += 1
            acc["self_s"] += own

        span_jobs = {sp.sid: 0 for sp in self.spans}
        group_jobs: dict[str, int] = {}
        for job in jobs.values():
            group_jobs[job.group] = group_jobs.get(job.group, 0) + 1
            sid = owner[job.job_id]
            if sid is None:
                continue
            span_jobs[sid] += 1
            acc = layers[self.spans[sid].layer]
            acc["jobs"] += 1
            acc["stages"] += sum(1 for s in job.stages if s in stage_ran)
        totals = {"spill_bytes": 0, "failed_tasks": 0}
        for stage_id, run_s, gc_s, shuffle, spill, failed in task_rows:
            totals["spill_bytes"] += spill
            totals["failed_tasks"] += failed
            job_id = stage_job.get(stage_id)
            sid = owner.get(job_id) if job_id is not None else None
            if sid is None:
                continue
            acc = layers[self.spans[sid].layer]
            acc["tasks"] += 1
            acc["task_s"] += run_s
            acc["gc_s"] += gc_s
            acc["shuffle_bytes"] += shuffle
        return {
            "layers": layers,
            "span_jobs": span_jobs,
            "group_jobs": group_jobs,
            "self_s": self_s,
            "totals": totals,
        }

    def _innermost(self, t: float) -> int | None:
        best = None
        for sp in self.spans:
            if sp.start <= t <= sp.end and (best is None or sp.depth > best.depth):
                best = sp
        return best.sid if best else None

    def inclusive_jobs(self, fold: dict, sid: int) -> int:
        """Jobs charged to a span or any span below it."""
        kids: dict[int, list[int]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp.sid)
        total, todo = 0, [sid]
        while todo:
            cur = todo.pop()
            total += fold["span_jobs"][cur]
            todo.extend(kids.get(cur, []))
        return total


def _parquet_files(args, kwargs) -> set[str]:
    """Parquet files under the directory arguments of a writer call."""
    found: set[str] = set()
    for arg in list(args) + list(kwargs.values()):
        if isinstance(arg, str) and os.path.isdir(arg):
            for root, _, files in os.walk(arg):
                found.update(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    return found


def _read_event_log(event_log_dir: str):
    """Jobs, stage→job map, stages that ran, and per-task rows
    (stage, run s, gc s, shuffle read bytes, spill bytes, failed)."""
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    stage_ran: set[int] = set()
    task_rows: list[tuple[int, float, float, int, int, int]] = []
    for name in sorted(os.listdir(event_log_dir)):
        path = os.path.join(event_log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = JobRecord(
                        job_id=ev["Job ID"],
                        submitted=ev["Submission Time"] / 1000.0,
                        group=props.get("spark.jobGroup.id") or "",
                        stages=list(ev.get("Stage IDs", [])),
                    )
                    jobs[job.job_id] = job
                    for sid in job.stages:
                        stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerStageCompleted":
                    stage_ran.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    shuffle = m.get("Shuffle Read Metrics") or {}
                    info = ev.get("Task Info") or {}
                    task_rows.append(
                        (
                            ev["Stage ID"],
                            m.get("Executor Run Time", 0) / 1000.0,
                            m.get("JVM GC Time", 0) / 1000.0,
                            shuffle.get("Remote Bytes Read", 0) + shuffle.get("Local Bytes Read", 0),
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            1 if info.get("Failed") else 0,
                        )
                    )
    return jobs, stage_job, stage_ran, task_rows
