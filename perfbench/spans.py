"""Spans around the calls into each layer, recorded from outside the
package.

``Tracer.install`` wraps every public function of each layer module (and
the public methods of the frame classes) and rebinds every module-level
reference to them across the package, so calls made through
``from x import f`` names are traced as well. Spans are kept in memory
(one thread-local stack per thread) and written out by the caller.

A span's self time is its duration minus the part of that interval its
child spans cover; its self jobs are the Spark jobs started during the
span minus those started during its children.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from dataclasses import dataclass, field

#: layer name -> modules whose public callables form the layer
LAYERS = {
    "frame": ["cl_data_frame_spark.frame"],
    "summary": ["cl_data_frame_spark.summary"],
    "relational": ["cl_data_frame_spark.operators.relational"],
    "stats": ["cl_data_frame_spark.operators.stats"],
    "sketch": ["cl_data_frame_spark.operators.sketch"],
    "sampling": ["cl_data_frame_spark.operators.sampling"],
    "dedup": ["cl_data_frame_spark.operators.dedup"],
    "similarity": ["cl_data_frame_spark.operators.similarity"],
    "ann_index": ["cl_data_frame_spark.operators.ann_index"],
    "graph": ["cl_data_frame_spark.operators.graph"],
    "textstats": ["cl_data_frame_spark.operators.textstats"],
    "curation": ["cl_data_frame_spark.operators.curation"],
    "pipeline": ["cl_data_frame_spark.operators.pipeline"],
    "incremental": ["cl_data_frame_spark.operators.incremental"],
    "matview": ["cl_data_frame_spark.operators.matview"],
    "snapshots": ["cl_data_frame_spark.sources.snapshots"],
    "streaming": ["cl_data_frame_spark.streaming",
                  "cl_data_frame_spark.streaming.snapshot_source"],
}

#: modules whose ``from module import name`` references are rebound to
#: the traced callables
REBIND_PREFIXES = ("cl_data_frame_spark", "__spark_entry__")

#: classes whose public methods are traced as part of their module's layer
TRACED_CLASSES = {"cl_data_frame_spark.frame": ["SparkFrame", "DataVector"]}


@dataclass
class Span:
    layer: str
    name: str
    start: float
    parent: "Span | None"
    pass_id: int
    op: str | None = None
    end: float = 0.0
    jobs: int = 0
    failed: bool = False
    children: list = field(default_factory=list)

    def as_dict(self, ids: dict) -> dict:
        return {"id": ids[id(self)], "layer": self.layer, "name": self.name,
                "start": self.start, "end": self.end,
                "parent": ids.get(id(self.parent)), "pass": self.pass_id,
                "op": self.op, "jobs": self.jobs, "failed": self.failed}


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of *intervals*."""
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


def self_time(span: Span) -> float:
    lo, hi = span.start, span.end
    kids = [(max(c.start, lo), min(c.end, hi)) for c in span.children]
    return (hi - lo) - covered([k for k in kids if k[1] > k[0]])


def self_jobs(span: Span) -> int:
    return span.jobs - sum(c.jobs for c in span.children)


def layer_totals(spans: list[Span]) -> dict[str, dict]:
    """``calls`` (entries into the layer from outside it), ``self_s``,
    ``jobs`` (self jobs) and ``failed`` (failed entries) per layer."""
    out = {name: {"calls": 0, "self_s": 0.0, "jobs": 0, "failed": 0}
           for name in LAYERS}
    for s in spans:
        t = out.setdefault(s.layer, {"calls": 0, "self_s": 0.0, "jobs": 0,
                                     "failed": 0})
        t["self_s"] += self_time(s)
        t["jobs"] += self_jobs(s)
        if s.parent is None or s.parent.layer != s.layer:
            t["calls"] += 1
            t["failed"] += int(s.failed)
    return out


class Tracer:
    """Records spans while ``active``; ``jobs`` returns a monotone count
    of Spark jobs started so far (0 when no session is given)."""

    def __init__(self, jobs=lambda: 0, clock=time.perf_counter):
        self.jobs = jobs
        self.clock = clock
        self.spans: list[Span] = []
        self.pass_id = 0
        self.active = True
        self._local = threading.local()
        self._lock = threading.Lock()

    def set_op(self, name: str | None) -> None:
        """Label spans opened on this thread with the benchmark op."""
        self._local.op = name

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            span = Span(layer, name, 0.0, parent, tracer.pass_id,
                        getattr(tracer._local, "op", None))
            span.jobs = -tracer.jobs()
            stack.append(span)
            span.start = tracer.clock()
            try:
                return fn(*args, **kwargs)
            except BaseException:
                span.failed = True
                raise
            finally:
                span.end = tracer.clock()
                span.jobs += tracer.jobs()
                stack.pop()
                with tracer._lock:
                    if parent is not None:
                        parent.children.append(span)
                    tracer.spans.append(span)
        traced.__traced__ = fn
        return traced

    def install(self) -> int:
        """Wrap the layers' public callables; returns how many."""
        wrapped: dict[int, object] = {}
        for layer, mods in LAYERS.items():
            for modname in mods:
                mod = importlib.import_module(modname)
                for name, obj in list(vars(mod).items()):
                    if (name.startswith("_") or not inspect.isfunction(obj)
                            or obj.__module__ != modname
                            or hasattr(obj, "__traced__")):
                        continue
                    w = self.wrap(layer, name, obj)
                    wrapped[id(obj)] = w
                    setattr(mod, name, w)
                for cname in TRACED_CLASSES.get(modname, ()):
                    self._wrap_class(layer, getattr(mod, cname))
        # rebind references taken with ``from module import name``
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(REBIND_PREFIXES):
                continue
            for name, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None and obj is getattr(w, "__traced__"):
                    setattr(mod, name, w)
        return len(wrapped)

    def _wrap_class(self, layer: str, cls) -> None:
        for name, obj in list(vars(cls).items()):
            if name.startswith("_"):
                continue
            qual = f"{cls.__name__}.{name}"
            if inspect.isfunction(obj) and not hasattr(obj, "__traced__"):
                setattr(cls, name, self.wrap(layer, qual, obj))
            elif isinstance(obj, (classmethod, staticmethod)):
                inner = obj.__func__
                if not hasattr(inner, "__traced__"):
                    setattr(cls, name,
                            type(obj)(self.wrap(layer, qual, inner)))

    def dump(self) -> list[dict]:
        ids = {id(s): i for i, s in enumerate(self.spans)}
        return [s.as_dict(ids) for s in self.spans]
