"""Spans around the benchmark's calls into each layer, with Spark's stage
counters attributed to them.

A span records name, layer, start, end, parent span and run id. Spans
are kept in memory and written out when the run ends. Each span sets
its own Spark job group (``sc.setJobGroup(span_id, ...)``) for its
lifetime, so every Spark job starts inside exactly one span, the
innermost one open when it was submitted. After the traced phase the
stage counters come from the status store:
``statusTracker().getJobIdsForGroup`` → ``getJobInfo(j).stageIds`` →
``statusStore().lastStageAttempt(sid)``. A stage that two jobs share is
counted once, for the job that ran it; skipped stages carry no counters.

:meth:`Tracer.instrument` wraps the public functions of the program's
layers for the traced phase only, replacing each function object
wherever a ``grapefruit_spark`` module holds a reference to it, and
puts every reference back on exit. Nothing under ``grapefruit_spark/``
is edited.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

# layer → (module, public functions, {class: public methods}). The session
# layer's one call, get_spark, happens before any phase and is recorded
# with Tracer.record.
LAYER_SURFACE = {
    "catalog": ("grapefruit_spark.catalog", ("table", "spread"), {}),
    "maplejuice": (
        "grapefruit_spark.maplejuice",
        ("maple", "juice", "maple_pipe", "juice_pipe", "maple_expr", "juice_agg"),
        {"MapleJuicePipeline": ("maple", "juice")},
    ),
    "sdfs": (
        "grapefruit_spark.sdfs",
        (),
        {"Sdfs": ("put", "get", "delete", "merge", "compact", "auto_compact",
                  "ls", "store", "global_")},
    ),
    "reliability": ("grapefruit_spark.reliability", ("pin", "unpin"), {}),
}

STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputBytes", "inputRecords", "outputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "shuffleWriteRecords",
    "shuffleFetchWaitTime", "memoryBytesSpilled",
)


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. It starts disabled; while ``enabled`` is false,
    :meth:`span` records nothing, so untraced cycles pay one branch per
    call."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.run_id}-{len(self.spans)}", name, layer,
                 parent.id if parent else None, self.run_id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name, interruptOnCancel=False)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name, interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def record(self, layer: str, name: str, start: float, end: float) -> None:
        """Add a finished span timed by the caller (no job group: used for
        calls made before the SparkContext exists)."""
        self.spans.append(Span(f"{self.run_id}-{len(self.spans)}", name, layer, None,
                               self.run_id, start, end))

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def instrument(self):
        """Wrap every function in LAYER_SURFACE for the duration."""
        undo: list[tuple[object, str, object]] = []
        loaded = [m for n, m in list(sys.modules.items())
                  if n.startswith("grapefruit_spark") and m is not None]
        try:
            for layer, (modname, funcs, classes) in LAYER_SURFACE.items():
                mod = sys.modules[modname]
                for fname in funcs:
                    orig = getattr(mod, fname)
                    traced = self.wrap(layer, f"{layer}.{fname}", orig)
                    for m in loaded:
                        if getattr(m, fname, None) is orig:
                            undo.append((m, fname, orig))
                            setattr(m, fname, traced)
                for cname, methods in classes.items():
                    cls = getattr(mod, cname)
                    for meth in methods:
                        orig = cls.__dict__[meth]
                        undo.append((cls, meth, orig))
                        setattr(cls, meth, self.wrap(layer, f"{layer}.{meth}", orig))
            yield
        finally:
            for obj, attr, orig in reversed(undo):
                setattr(obj, attr, orig)

    # -- after the traced phase ------------------------------------------
    def attach_stage_counters(self) -> None:
        """Fill ``jobs`` and ``stages`` of every span from the status store."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        owner: dict[int, Span] = {}
        for s in self.spans:
            for j in tracker.getJobIdsForGroup(s.id):
                owner[int(j)] = s
        seen: set[int] = set()
        for j in sorted(owner):
            s = owner[j]
            s.jobs.append(j)
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in sorted(int(x) for x in info.stageIds):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # an AQE-skipped stage may have no record
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                s.stages.append({f: getattr(sd, f)() for f in STAGE_FIELDS})

    def children(self) -> dict[str | None, list[Span]]:
        out: dict[str | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[str, float]:
        """Per layer: Σ (span duration − time its child spans cover).
        Spans of one thread nest, so the children never overlap."""
        kids = self.children()
        out: dict[str, float] = {}
        for s in self.spans:
            covered = sum(c.dur for c in kids.get(s.id, ()))
            out[s.layer] = out.get(s.layer, 0.0) + s.dur - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["dur"] = s.dur
                f.write(json.dumps(row) + "\n")
