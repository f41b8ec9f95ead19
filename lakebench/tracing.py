"""Span tracing for the lifecycle benchmark, installed from outside the package.

`Tracer.install()` wraps the public functions listed in `TARGETS`. Each call
becomes a `Span` with a name, a layer (the package module the function lives
in), start and end, its parent span, and the root operation it ran under.
Spans that can launch Spark jobs get a job group of their own, so each job
and its tasks count toward exactly one span.

Wrapped functions that return a lazy `DataFrame` tag it. `Tracer.run(df, fn)`
then times the action that consumes it (`collect`, `count`, ...) as a
continuation of the same call, so the execution time and the jobs of the
action count toward that function and not toward the benchmark.

Every reference to a wrapped module-level function is replaced, in every
loaded `hudi_demo_spark` module, so a module that imported the function by
name cannot escape the trace. `never_fired()` checks the same thing at
the end of a run from the other side: every wrapper must have recorded a call.

Spans stay in memory until the run ends; `dump()` writes them out as JSON.
`NullTracer` has the same interface and does nothing, for untraced runs.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# (module, attribute path, span name, launches Spark jobs)
TARGETS = [
    ("hudi_demo_spark.session", "get_spark", "session.start", False),
    ("hudi_demo_spark.sources.readers", "load_table", "sources.load", True),
    ("hudi_demo_spark.engine.engine", "Engine.upsert", "engine.upsert", True),
    ("hudi_demo_spark.engine.engine", "Engine.insert", "engine.insert", True),
    ("hudi_demo_spark.engine.engine", "Engine.read", "engine.read", True),
    (
        "hudi_demo_spark.engine.engine",
        "Engine.read_incremental",
        "engine.read_incremental",
        True,
    ),
    ("hudi_demo_spark.engine.engine", "Engine.compact", "engine.compact", True),
    (
        "hudi_demo_spark.engine.timeline",
        "Timeline.live_files",
        "timeline.live_files",
        False,
    ),
    ("hudi_demo_spark.engine.timeline", "Timeline.instants", "timeline.instants", False),
    ("hudi_demo_spark.engine.timeline", "Timeline.commit", "timeline.commit", False),
    ("hudi_demo_spark.engine.bloom", "load", "bloom.load", False),
    (
        "hudi_demo_spark.engine.secondary_index",
        "SecondaryIndex.lookup_partitions",
        "secondary_index.lookup",
        False,
    ),
    (
        "hudi_demo_spark.engine.secondary_index",
        "SecondaryIndex.append",
        "secondary_index.append",
        True,
    ),
    (
        "hudi_demo_spark.engine.minhash_index",
        "minhash_admit",
        "minhash_index.admit",
        True,
    ),
    (
        "hudi_demo_spark.engine.minhash_index",
        "refresh_minhash_index",
        "minhash_index.refresh",
        True,
    ),
    (
        "hudi_demo_spark.engine.text_index",
        "refresh_text_index",
        "text_index.refresh",
        True,
    ),
    (
        "hudi_demo_spark.engine.text_index",
        "text_index_search",
        "text_index.search",
        True,
    ),
]

# wrappers every workload exercises; each workload names its own on top
COMMON = [
    "get_spark",
    "load_table",
    "Engine.insert",
    "Engine.read",
    "Engine.read_incremental",
    "Timeline.live_files",
    "Timeline.instants",
    "Timeline.commit",
]

_PKG = "hudi_demo_spark"
_TAG = "_lakebench_span"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    root: int | None
    call: int
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: the same calls, no bookkeeping."""

    enabled = False

    @contextmanager
    def span(self, name, layer="bench", jobs=True, call=None):
        yield None

    @contextmanager
    def paused(self):
        yield

    def run(self, df, fn):
        return fn()


class Tracer(NullTracer):
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self.fired: dict[str, int] = {}
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._paused = 0
        self._restore: list[tuple] = []
        self._sc = None
        self._tracker = None

    # ---------------- install / uninstall ----------------

    def install(self, attrs: list[str]) -> None:
        """Wrap the `TARGETS` whose attribute path is in `attrs`."""
        for modname, attr, name, jobs in TARGETS:
            if attr not in attrs:
                continue
            mod = importlib.import_module(modname)
            layer = modname[len(_PKG) + 1:]
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                setattr(cls, meth, self._wrap(orig, attr, name, layer, jobs))
                self._restore.append((cls, meth, orig))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, attr, name, layer, jobs)
            # every module holding the function by name, not just its home
            for m in list(sys.modules.values()):
                d = getattr(m, "__dict__", None)
                if d is None or not getattr(m, "__name__", "").startswith(_PKG):
                    continue
                for k, v in list(d.items()):
                    if v is orig:
                        setattr(m, k, wrapped)
                        self._restore.append((m, k, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _wrap(self, fn, attr, name, layer, jobs):
        tracer = self
        self.fired.setdefault(attr, 0)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._paused:
                return fn(*args, **kwargs)
            tracer.fired[attr] += 1
            with tracer.span(name, layer, jobs) as sp:
                out = fn(*args, **kwargs)
                tracer._annotate(sp, name, fn, args, kwargs, out)
            if _is_df(out):
                try:
                    setattr(out, _TAG, sp)
                except AttributeError:
                    pass
            return out

        return wrapper

    def _annotate(self, sp: Span, name: str, fn, args, kwargs, out) -> None:
        if name == "session.start":
            # job groups need the SparkContext; the session start itself
            # runs no job
            self._sc = out.sparkContext
            self._tracker = self._sc.statusTracker()
        elif name == "timeline.instants":
            sp.attrs["parsed"] = len(out)
        elif name == "timeline.commit":
            a = inspect.signature(fn).bind(*args, **kwargs).arguments
            added, removed = a["files_added"], a["files_removed"]
            sp.attrs["files_added"] = len(added)
            sp.attrs["files_removed"] = 0 if removed == "*" else len(removed)
            sp.attrs["bytes_added"] = sum(int(f.get("bytes") or 0) for f in added)

    # ---------------- spans ----------------

    @contextmanager
    def span(self, name, layer="bench", jobs=True, call=None):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(
            sid=sid,
            name=name,
            layer=layer,
            parent=parent.sid if parent else None,
            root=parent.root if parent else sid,
            call=sid if call is None else call,
            start=0.0,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        group = None
        if jobs and self._sc is not None:
            group = f"lakebench:{sid}"
            sp.attrs["group"] = group
            self._sc.setJobGroup(group, name)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                sp.jobs, sp.tasks = self._shape(group)
                outer = next(
                    (s for s in reversed(self._stack) if s.attrs.get("group")),
                    None,
                )
                if outer is not None:
                    self._sc.setJobGroup(outer.attrs["group"], outer.name)
                else:
                    self._sc.setJobGroup("lakebench:idle", "untraced")
            self.overhead_s += time.perf_counter() - sp.end

    def _shape(self, group: str) -> tuple[int, int]:
        return job_shape(self._tracker, group)

    @contextmanager
    def paused(self):
        """Benchmark bookkeeping (checks, file counts) must not show up as
        calls into the layers it inspects."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    def run(self, df, fn):
        """Run `fn` (an action on `df` or on a frame derived from it) as a
        continuation of the traced call that returned `df`."""
        origin = getattr(df, _TAG, None)
        if origin is None:
            return fn()
        with self.span(origin.name, origin.layer, True, call=origin.call):
            return fn()

    # ---------------- results ----------------

    def never_fired(self) -> list[str]:
        return [a for a, n in self.fired.items() if n == 0]

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def job_shape(tracker, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group `group`."""
    jids = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jids:
        ji = tracker.getJobInfo(jid)
        for sid in ji.stageIds if ji else ():
            si = tracker.getStageInfo(sid)
            tasks += si.numTasks if si else 0
    return len(jids), tasks


def _is_df(x) -> bool:
    return type(x).__name__ == "DataFrame" and hasattr(x, "inputFiles")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the durations of its child spans."""
    child: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.dur
    return {s.sid: s.dur - child.get(s.sid, 0.0) for s in spans}


def per_call(spans: list[Span], name: str, selfs: dict[int, float]) -> dict:
    """Median over calls of `name` (continuations folded into their call)
    of self seconds, jobs and tasks."""
    calls: dict[int, list[float]] = {}
    for s in spans:
        if s.name == name:
            acc = calls.setdefault(s.call, [0.0, 0, 0])
            acc[0] += selfs[s.sid]
            acc[1] += s.jobs
            acc[2] += s.tasks
    if not calls:
        return {"self_s": 0.0, "jobs": 0, "tasks": 0}
    vals = list(calls.values())
    return {
        "self_s": statistics.median(v[0] for v in vals),
        "jobs": statistics.median(v[1] for v in vals),
        "tasks": statistics.median(v[2] for v in vals),
    }
