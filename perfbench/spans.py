"""Span tracing installed from outside the engine.

``Tracer.install`` wraps public entry points of ``ballista_delta_spark``
(and the snapshot loader every reader and writer goes through) in place,
in every engine module that holds a reference to them, so calls between
engine modules are traced too. The engine's own files are not edited.

Each span records its name, start, end, parent span and op id. Spans are
kept in memory for the run; ``write`` dumps them as JSON lines at exit.
A layer's self time is its span's duration minus its children's.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    child_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


# (module, attribute, span name). Attributes that a module lacks are an
# error: a renamed entry point must not silently drop out of the trace.
TRACED = (
    ("ballista_delta_spark.session", "sql", "session.sql"),
    ("ballista_delta_spark.session", "get_spark", "session.get_spark"),
    ("ballista_delta_spark.sources.delta", "_load_snapshot", "delta.snapshot"),
    ("ballista_delta_spark.sources.delta", "read_delta", "delta.read"),
    ("ballista_delta_spark.sources.delta", "skip_files", "delta.skip_files"),
    ("ballista_delta_spark.sources.delta", "write_delta", "delta.write"),
    ("ballista_delta_spark.sources.delta", "create_checkpoint", "delta.checkpoint"),
    ("ballista_delta_spark.sources.delta", "optimize", "delta.optimize"),
    ("ballista_delta_spark.sources.delta_dml", "merge_delta", "delta_dml.merge"),
    ("ballista_delta_spark.sources.delta_dml", "delete_delta", "delta_dml.delete"),
    ("ballista_delta_spark.sources.delta_dml", "update_delta", "delta_dml.update"),
    ("ballista_delta_spark.sources.dv", "write_deletion_vectors", "dv.write"),
    ("ballista_delta_spark.sources.dv", "read_dv_bytes", "dv.read"),
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.active = False
        self.op_id: int | None = None
        self.op_kind: dict[int, str] = {}
        self.counts: dict[str, float] = {}
        self.overhead_s = 0.0
        # Once set to the SparkContext, each op's Spark jobs are tagged
        # with a job group and its jobs, tasks and failed tasks counted
        # from the status tracker.
        self.sc = None

    # ---------------------------------------------------------- spans
    def begin_op(self, kind: str) -> None:
        self.active = True
        self.op_id = len(self.op_kind)
        self.op_kind[self.op_id] = kind
        if self.sc is not None:
            self.sc.setJobGroup(f"perfbench-{self.op_id}", kind)
        self.open(f"op.{kind}")

    def end_op(self) -> None:
        self.close()
        if self.sc is not None:
            self._count_jobs(f"perfbench-{self.op_id}")
        self.active = False

    def _count_jobs(self, group: str) -> None:
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            self.count("spark.jobs")
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    self.count("spark.tasks", stage.numTasks)
                    self.count("spark.failed_tasks", stage.numFailedTasks)

    def open(self, name: str) -> Span:
        t0 = time.perf_counter()
        parent = self.stack[-1].sid if self.stack else None
        span = Span(len(self.spans), name, t0, t0, parent, self.op_id)
        self.spans.append(span)
        self.stack.append(span)
        self.overhead_s += time.perf_counter() - t0
        return span

    def close(self) -> None:
        t0 = time.perf_counter()
        span = self.stack.pop()
        span.end = t0
        if self.stack:
            self.stack[-1].child_s += span.end - span.start
        self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str):
        """A span opened by the benchmark itself, while an op is traced."""
        if not self.active:
            yield
            return
        self.open(name)
        try:
            yield
        finally:
            self.close()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.active:
            self.counts[name] = self.counts.get(name, 0.0) + value

    # ------------------------------------------------------- wrappers
    def wrap(self, fn, name: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close()
            if after is not None:
                t0 = time.perf_counter()
                after(tracer, out, args, kwargs)
                tracer.overhead_s += time.perf_counter() - t0
            return out

        return traced

    def install(self) -> None:
        import importlib

        afters = {
            "delta.snapshot": _after_snapshot,
            "delta.skip_files": _after_skip,
        }
        for mod_name, attr, name in TRACED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = self.wrap(orig, name, afters.get(name))
            for other in list(sys.modules.values()):
                if getattr(other, "__name__", "").startswith("ballista_delta_spark"):
                    for key, val in list(vars(other).items()):
                        if val is orig:
                            setattr(other, key, wrapped)

    # --------------------------------------------------------- output
    def self_ms(self) -> dict[str, tuple[float, int]]:
        """span name -> (self time in ms per call, calls)."""
        tot: dict[str, list[float]] = {}
        for s in self.spans:
            tot.setdefault(s.name, []).append(s.self_s)
        return {k: (1000.0 * sum(v) / len(v), len(v)) for k, v in tot.items()}

    def inclusive_ms(self, name: str) -> float:
        """Mean duration in ms of the spans called ``name``, children
        included."""
        d = [s.end - s.start for s in self.spans if s.name == name]
        return 1000.0 * sum(d) / len(d) if d else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op,
                }) + "\n")


def span(tracer: "Tracer | None", name: str):
    """A span around the benchmark's own call into a layer; no-op when
    tracing is off."""
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _last_checkpoint(path: str) -> int | None:
    try:
        with open(os.path.join(path, "_delta_log", "_last_checkpoint")) as fh:
            return int(json.load(fh)["version"])
    except FileNotFoundError:
        return None


def _after_snapshot(tracer: Tracer, snap, args, kwargs) -> None:
    """Commits replayed to build this snapshot: the JSON tail after the
    checkpoint the loader starts from, or the whole log up to the version
    when it replays from version 0 (which it prefers for time travel while
    the log is complete)."""
    version = args[1] if len(args) > 1 else kwargs.get("version")
    cv = _last_checkpoint(snap.path)
    v0 = os.path.exists(os.path.join(snap.path, "_delta_log", f"{0:020d}.json"))
    if cv is None or (version is not None and (v0 or cv > version)):
        replayed = snap.version + 1
    else:
        replayed = snap.version - cv
    tracer.count("delta.snapshots")
    tracer.count("delta.commits_replayed", replayed)
    files = list(snap.files.values())
    tracer.count("delta.snapshot_files", len(files))
    tracer.count("delta.dv_files", sum(1 for a in files if a.get("deletionVector")))


def _after_skip(tracer: Tracer, kept, args, kwargs) -> None:
    tracer.count("delta.skip_files_in", len(args[0].files))
    tracer.count("delta.skip_files_kept", len(kept))
