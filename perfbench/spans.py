"""Spans around calls into the engine's layers, with Spark counters.

A :class:`Tracer` records one span per call: name, start, end and parent.
Every span gets its own Spark job group, so each job the engine launches
while the span is innermost is attributed to it. Counters (jobs,
stages' shuffle write, spill, executor CPU and input bytes) are read
once, at the end of the run, from the application's status store through
the local UI REST endpoint -- after every job has completed, because the
status listener is asynchronous. Spans stay in memory until then.

:func:`install` wraps the public functions of the traced layers in place,
in every module of the package that imported them by name, so calls made
from inside the engine (the CLI imports inside function bodies; ingest
modules import writers at module level) are traced too. It is only used
in the traced run; :func:`uninstall` puts the originals back.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "tpg_weather_etl_spark"

# layer name -> modules whose public functions are wrapped
LAYERS = {
    "sources": ["sources.staging", "sources.readers", "sources.writers"],
    "ingest": ["ingest.gtfs", "ingest.istdaten", "ingest.weather"],
    "features": ["features.events", "features.by_stop_line",
                 "features.training_row"],
    "app.data": ["app.data"],
    "caching": ["caching"],
    "session": ["session"],
}

COUNTERS = ("jobs", "shuffle_write_bytes", "spill_bytes", "exec_cpu_ns",
            "input_bytes")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder for one Spark application (not thread-safe: the
    benchmark is a single closed-loop client)."""

    def __init__(self, spark, run_id: str = "pb"):
        self._sc = spark.sparkContext
        self._run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, parent.sid if parent else None,
                 f"{self._run_id}-{sid}")
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    # -- counters ---------------------------------------------------------

    def collect_counters(self, timeout_s: float = 30.0) -> None:
        """Attach per-span counters from the status store. Waits until the
        store shows every job of every span's group as finished."""
        groups = {s.group for s in self.spans}
        tracker = self._sc.statusTracker()
        want = {jid for g in groups for jid in tracker.getJobIdsForGroup(g)}
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = self._rest("jobs")
            seen = {j["jobId"]: j for j in jobs}
            done = all(j in seen and seen[j]["status"] in
                       ("SUCCEEDED", "FAILED") for j in want)
            if done:
                break
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"status store still shows unfinished jobs of the "
                    f"traced spans after {timeout_s:.0f}s")
            time.sleep(0.2)
        stages = {}
        for st in self._rest("stages"):
            stages.setdefault(st["stageId"], []).append(st)
        # a stage runs in the first job that lists it; later jobs that
        # list it skip it, so attribute it once, to the lowest job id
        owner: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j.get("stageIds", []):
                owner.setdefault(sid, j["jobId"])
        per_group: dict[str, dict] = {g: dict.fromkeys(COUNTERS, 0)
                                      for g in groups}
        for j in jobs:
            g = j.get("jobGroup")
            if g not in per_group:
                continue
            c = per_group[g]
            c["jobs"] += 1
            for sid in j.get("stageIds", []):
                if owner.get(sid) != j["jobId"]:
                    continue
                for st in stages.get(sid, []):
                    c["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                    c["spill_bytes"] += st.get("diskBytesSpilled", 0)
                    c["exec_cpu_ns"] += st.get("executorCpuTime", 0)
                    c["input_bytes"] += st.get("inputBytes", 0)
        for s in self.spans:
            s.counters = per_group[s.group]

    def _rest(self, what: str) -> list:
        port = self._sc.uiWebUrl.rsplit(":", 1)[1]
        app = self._sc.applicationId
        url = f"http://127.0.0.1:{port}/api/v1/applications/{app}/{what}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    # -- tree arithmetic ---------------------------------------------------

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def self_time(self, span: Span) -> float:
        """Span wall time minus the time its direct children cover
        (children of one span never overlap: the client is sequential)."""
        return span.wall - sum(c.wall for c in self.children(span))

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def inclusive(self, span: Span, counter: str) -> int:
        return sum(s.counters.get(counter, 0) for s in self.subtree(span))

    def outermost_time(self, span: Span, prefix: str) -> float:
        """Time inside spans named ``prefix*`` below ``span``, counting a
        matching span once even when matching spans nest."""
        total, todo = 0.0, list(self.children(span))
        while todo:
            s = todo.pop()
            if s.name.startswith(prefix):
                total += s.wall
            else:
                todo.extend(self.children(s))
        return total

    def dump(self, path) -> None:
        rows = [{"sid": s.sid, "name": s.name, "parent": s.parent,
                 "start": s.start, "end": s.end, "self_s": self.self_time(s),
                 **s.counters} for s in self.spans]
        with open(path, "w") as fh:
            json.dump(rows, fh)


def _public_functions(module):
    for name, obj in vars(module).items():
        if (not name.startswith("_") and inspect.isfunction(obj)
                and obj.__module__ == module.__name__):
            yield name, obj


def install(tracer: Tracer) -> list[tuple]:
    """Wrap every public function of :data:`LAYERS` wherever the package
    holds a reference to it. Returns the patches for :func:`uninstall`."""
    wrapped = {}
    for mods in LAYERS.values():
        for m in mods:
            module = importlib.import_module(f"{PACKAGE}.{m}")
            for name, fn in _public_functions(module):
                wrapped[id(fn)] = (fn, tracer.wrap(f"{m}.{name}", fn))
    patches = []
    for mod_name, module in list(sys.modules.items()):
        if not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(module).items()):
            hit = wrapped.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(module, attr, hit[1])
                patches.append((module, attr, val))
    return patches


def uninstall(patches: list[tuple]) -> None:
    for module, attr, original in patches:
        setattr(module, attr, original)
