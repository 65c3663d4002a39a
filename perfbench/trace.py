"""Spans around calls into the engine's modules, and what they cost.

A traced run wraps every public function (and every public method of a
public class) defined in the named engine modules. Each call opens a
span: layer (the module name without the package prefix), name, start,
end and the span that caused it. Spans are kept in memory per thread;
a span's self time is its duration minus the part its child spans cover.

Spark jobs are charged to spans from outside: entering a span sets the
thread's job group to the span's key, leaving restores the caller's
group, so each job lands on the innermost span open when it started.
``job_costs`` reads those jobs back from the status store (stage shuffle
write, spill and GC time).

Untraced runs never call ``instrument``; the engine then runs its own
unwrapped code. ``Tracer.overhead_s`` is the time spent opening and
closing spans (including the job-group calls into the JVM), the direct
cost tracing adds to a traced run.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

PACKAGE = "knightshift_spark"
GROUP_PREFIX = "pb-"

# run inside Python workers (referenced from mapInPandas closures), never
# span-worthy on the driver
SKIP = {"sources.rest.fetch_with_retry"}


class Span:
    __slots__ = ("key", "layer", "name", "parent", "start", "end")

    def __init__(self, key: str, layer: str, name: str, parent: Span | None):
        self.key, self.layer, self.name, self.parent = key, layer, name, parent
        self.start = time.perf_counter()
        self.end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end or time.perf_counter()) - self.start


class Tracer:
    """In-memory span recorder; ``sc`` (optional) charges jobs to spans."""

    def __init__(self, sc=None, capture: tuple[str, ...] = ()):
        self.sc = sc
        self.capture = set(capture)  # qualnames whose return values are kept
        self.captured: dict[str, list] = defaultdict(list)
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent opening and closing spans
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, layer: str, name: str) -> _SpanCtx:
        return _SpanCtx(self, layer, name)

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span durations minus their children's."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[id(s.parent)] += s.duration
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += s.duration - child[id(s)]
        return dict(out)


class _SpanCtx:
    __slots__ = ("tracer", "layer", "name", "span", "prev_group")

    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer, self.layer, self.name = tracer, layer, name

    def __enter__(self) -> Span:
        t0 = time.perf_counter()
        tr = self.tracer
        stack = tr._stack()
        with tr._lock:
            key = f"{GROUP_PREFIX}{next(tr._ids)}"
        self.span = Span(key, self.layer, self.name, stack[-1] if stack else None)
        stack.append(self.span)
        with tr._lock:
            tr.spans.append(self.span)
        if tr.sc is not None:
            # the caller's group: the parent span's key, or whatever the
            # thread had when its first span opened
            if self.span.parent is not None:
                self.prev_group = self.span.parent.key
            else:
                self.prev_group = tr.sc.getLocalProperty("spark.jobGroup.id")
            tr.sc.setLocalProperty("spark.jobGroup.id", key)
        with tr._lock:
            tr.overhead_s += time.perf_counter() - t0
        return self.span

    def __exit__(self, *exc) -> None:
        t0 = time.perf_counter()
        tr = self.tracer
        if tr.sc is not None:
            tr.sc.setLocalProperty("spark.jobGroup.id", self.prev_group)
        self.span.end = time.perf_counter()
        tr._stack().pop()
        with tr._lock:
            tr.overhead_s += time.perf_counter() - t0


# the tracer the wrappers report to; None outside a traced run. Wrappers
# look it up at call time through this module, so a wrapper that ends up
# pickled into a Python worker finds None there and just calls through.
ACTIVE: Tracer | None = None


def _wrap(fn, layer: str):
    name = fn.__qualname__

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        from perfbench import trace as _t

        tr = _t.ACTIVE
        if tr is None:
            return fn(*args, **kwargs)
        with tr.span(layer, name):
            result = fn(*args, **kwargs)
        if name in tr.capture:
            tr.captured[name].append(result)
        return result

    return wrapper


def instrument(layers: list[str]) -> None:
    """Wrap the public callables of ``knightshift_spark.<layer>`` for each
    layer and rebind every engine-module reference to them."""
    targets: dict[int, tuple[object, object]] = {}
    for layer in layers:
        mod = importlib.import_module(f"{PACKAGE}.{layer}")
        for attr, obj in list(vars(mod).items()):
            if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                continue
            if f"{layer}.{attr}" in SKIP:
                continue
            if inspect.isfunction(obj):
                targets[id(obj)] = (obj, _wrap(obj, layer))
            elif inspect.isclass(obj):
                for m, raw in list(vars(obj).items()):
                    if m.startswith("_"):
                        continue
                    if isinstance(raw, (classmethod, staticmethod)):
                        setattr(obj, m, type(raw)(_wrap(raw.__func__, layer)))
                    elif inspect.isfunction(raw):
                        setattr(obj, m, _wrap(raw, layer))
    # `from x import f` bound f into other engine modules: rebind those too
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
            continue
        for attr, obj in list(vars(mod).items()):
            hit = targets.get(id(obj))
            if hit is not None and hit[0] is obj:
                setattr(mod, attr, hit[1])


def job_costs(sc) -> dict[str, dict[str, float]]:
    """Per span key: jobs, shuffle write bytes, spill bytes, GC seconds and
    input bytes of the jobs charged to it, read from the status store."""
    store = sc._jsc.sc().statusStore()
    jobs = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(store.jobsList(None))
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict(jobs=0, shuffle_bytes=0, spill_bytes=0, gc_s=0.0, input_bytes=0)
    )
    for job in jobs:
        group = job.jobGroup()
        if group.isEmpty() or not group.get().startswith(GROUP_PREFIX):
            continue
        acc = out[group.get()]
        acc["jobs"] += 1
        for sid in sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(job.stageIds()):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never submitted (skipped)
                continue
            acc["shuffle_bytes"] += sd.shuffleWriteBytes()
            acc["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            acc["gc_s"] += sd.jvmGcTime() / 1000.0
            acc["input_bytes"] += sd.inputBytes()
    return out
