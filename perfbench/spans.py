"""Spans around the program's layers, recorded from outside the program.

:func:`install` replaces every public function of each layer module (and a
few named methods) with a wrapper that opens a span. A span tags the Spark
jobs submitted while it is the innermost open span with its own job group,
so the event-log digest can charge task metrics to it. Spans are kept in
memory; :func:`layer_report` folds them with a digest into per-layer
numbers.

DataFrames are lazy, so a layer's jobs are the ones it runs itself
(``count``, ``collect``, checkpoints, writes) plus the materialization of
the frames it returned. The construction stages in :data:`STAGES` build
plans only, so their wrappers persist and materialize the returned frames
inside the stage's own span, as ``bench.py --stages`` does; consumers then
read the cached result. For other layers the benchmark materializes the
frames it gets back in a span named after the producing layer.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import time
from dataclasses import dataclass, field

# layer name -> modules whose public functions belong to it
LAYER_MODULES = {
    "session": ["graphiti_spark.session"],
    "sources": ["graphiti_spark.sources.source_files", "graphiti_spark.sources.episodes"],
    "plans.pipeline": ["graphiti_spark.plans.pipeline"],
    "operators.extraction": ["graphiti_spark.operators.extraction"],
    "operators.resolution": ["graphiti_spark.operators.resolution"],
    "operators.edges": ["graphiti_spark.operators.edges"],
    "operators.temporal": ["graphiti_spark.operators.temporal"],
    "storage.writer": [],
    "api": [],
    "functions.embeddings": ["graphiti_spark.functions.embeddings"],
    "operators.search": ["graphiti_spark.operators.search"],
    "operators.community": ["graphiti_spark.operators.community"],
    "operators.dedup": ["graphiti_spark.operators.dedup"],
    "operators.similarity": ["graphiti_spark.operators.similarity"],
    "operators.textstats": ["graphiti_spark.operators.textstats"],
    "operators.bpe": ["graphiti_spark.operators.bpe"],
    "operators.events": ["graphiti_spark.operators.events"],
    "operators.multimodal": ["graphiti_spark.operators.multimodal"],
}
# layer name -> (module, class, methods) wrapped on the class
LAYER_METHODS = {
    "storage.writer": ("graphiti_spark.storage.writer", "GraphStore",
                       ("merge_upsert", "replace_groups", "read")),
    "api": ("graphiti_spark.api", "GraphitiSpark", ("add_episode_bulk", "search")),
}
# module -> construction stages whose returned frames are materialized
# inside their span
STAGES = {
    "graphiti_spark.sources.episodes": ("episodes_from_source_files",),
    "graphiti_spark.operators.extraction": ("extract_mentions", "extract_triples"),
    "graphiti_spark.operators.resolution": ("resolve_nodes",),
    "graphiti_spark.operators.edges": ("dedupe_then_resolve", "build_episodic_edges"),
    "graphiti_spark.operators.temporal": ("invalidate_contradictions",),
}
LAYERS = tuple(LAYER_MODULES)
ROOT = "bench"  # the benchmark's own code: time no layer span covers

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    start: float  # time.time(), seconds since the epoch
    end: float = 0.0
    children_s: float = 0.0  # summed duration of direct children


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    sc: object = None  # SparkContext once one exists
    overhead_s: float = 0.0  # time spent opening and closing spans

    def tag(self, sid: int) -> str:
        return f"pb-{sid}"

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            from pyspark import SparkContext

            self.sc = SparkContext._active_spark_context
            if self.sc is None:
                return
        self.sc.setLocalProperty(JOB_GROUP, self.tag(span.sid) if span else None)

    def enter(self, layer: str, name: str) -> Span:
        t = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), layer, name, parent.sid if parent else None, time.time())
        self.spans.append(s)
        self.stack.append(s)
        self._set_group(s)
        self.overhead_s += time.perf_counter() - t
        return s

    def exit(self, s: Span) -> None:
        t = time.perf_counter()
        s.end = time.time()
        self.stack.pop()
        parent = self.stack[-1] if self.stack else None
        if parent is not None:
            parent.children_s += s.end - s.start
        self._set_group(parent)
        self.overhead_s += time.perf_counter() - t

    def span(self, layer: str, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.enter(layer, name)
                return self.s

            def __exit__(self, *exc):
                tracer.exit(self.s)
                return False

        return _Ctx()

    def wrap(self, layer: str, fn, stage: bool = False):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # a call inside a span of the same layer is part of that span
            if self.stack and self.stack[-1].layer == layer:
                return fn(*args, **kwargs)
            s = self.enter(layer, fn.__qualname__)
            try:
                out = fn(*args, **kwargs)
                if stage:
                    _materialize(out)
                return out
            finally:
                self.exit(s)

        wrapper.__wrapped_by_perfbench__ = True
        return wrapper


def _materialize(out) -> None:
    """Persist every DataFrame in ``out`` (one frame or a tuple of them) and
    fill its cache. ``persist`` marks the caller's own object."""
    from pyspark import StorageLevel
    from pyspark.sql import DataFrame

    for df in out if isinstance(out, tuple) else (out,):
        if isinstance(df, DataFrame):
            df.persist(StorageLevel.MEMORY_AND_DISK)
            df.write.format("noop").mode("overwrite").save()


def _is_plain_function(obj, module_name: str) -> bool:
    return (
        inspect.isfunction(obj)
        and obj.__module__ == module_name
        and not hasattr(obj, "evalType")  # pandas/Python UDF objects
        and not getattr(obj, "__wrapped_by_perfbench__", False)
    )


def install(tracer: Tracer) -> int:
    """Wrap every layer's public functions wherever the program bound them.
    Returns the number of functions wrapped."""
    import sys

    mods = {m: importlib.import_module(m) for ms in LAYER_MODULES.values() for m in ms}
    for mod, _, _ in LAYER_METHODS.values():
        importlib.import_module(mod)
    importlib.import_module("graphiti_spark.api")
    replaced: dict[int, object] = {}
    for layer, names in LAYER_MODULES.items():
        for name in names:
            mod = mods[name]
            for attr, obj in list(vars(mod).items()):
                if not attr.startswith("_") and _is_plain_function(obj, name):
                    replaced[id(obj)] = tracer.wrap(
                        layer, obj, stage=attr in STAGES.get(name, ()))
    # rebind in every loaded module of the program: modules import
    # functions by name, so patching only the defining module is not enough
    for mname, mod in list(sys.modules.items()):
        if mod is None or not mname.startswith("graphiti_spark"):
            continue
        for attr, obj in list(vars(mod).items()):
            w = replaced.get(id(obj))
            if w is not None:
                setattr(mod, attr, w)
    for layer, (mod, cls, methods) in LAYER_METHODS.items():
        klass = getattr(importlib.import_module(mod), cls)
        for m in methods:
            setattr(klass, m, tracer.wrap(layer, getattr(klass, m)))
    return len(replaced) + sum(len(m[2]) for m in LAYER_METHODS.values())


def _inside(t: float, windows) -> bool:
    return any(lo <= t <= hi for lo, hi in windows)


def layer_report(tracer: Tracer, digest: dict, windows) -> dict[str, dict[str, float]]:
    """Per-layer totals over the spans that start inside one of the timed
    ``windows``. ``session`` spans only run in set-up and always count.
    ``digest`` maps job-group tag -> task totals (see digest.py). The
    ``bench`` entry is the timed wall time no layer span covers."""
    out = {l: {"wall_s": 0.0, "jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0,
               "gc_s": 0.0, "python_s": 0.0, "bytes_written": 0}
           for l in LAYERS + (ROOT,)}
    out[ROOT]["wall_s"] = sum(hi - lo for lo, hi in windows)
    for s in tracer.spans:
        if s.layer != "session" and not _inside(s.start, windows):
            continue
        if s.parent is None and s.layer != "session":
            out[ROOT]["wall_s"] -= s.end - s.start
        o = out[s.layer]
        o["wall_s"] += (s.end - s.start) - s.children_s
        d = digest.get(tracer.tag(s.sid))
        if d is None:
            continue
        o["jobs"] += d["jobs"]
        o["tasks"] += d["tasks"]
        o["shuffle_bytes"] += d["shuffle_read_bytes"] + d["shuffle_write_bytes"]
        o["spill_bytes"] += d["spill_bytes"]
        o["gc_s"] += d["gc_ms"] / 1000.0
        o["python_s"] += d["python_ms"] / 1000.0
        o["bytes_written"] += d["bytes_written"]
    return out


def first_job_delay_s(tracer: Tracer, digest: dict, layer: str, windows) -> float:
    """Summed time from the start of each outermost span of ``layer`` to
    the first job submitted anywhere inside it: the planning time the
    layer spends before Spark starts work."""
    children: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.sid)

    def first_submit(sid: int) -> float | None:
        best = digest.get(tracer.tag(sid), {}).get("first_submit_ms")
        for c in children.get(sid, ()):
            t = first_submit(c)
            if t is not None and (best is None or t < best):
                best = t
        return best

    total = 0.0
    for s in tracer.spans:
        if s.layer != layer or not _inside(s.start, windows):
            continue
        if s.parent is not None and tracer.spans[s.parent].layer == layer:
            continue
        t = first_submit(s.sid)
        if t is not None:
            total += max(t / 1000.0 - s.start, 0.0)
    return total
