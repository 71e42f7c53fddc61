"""Spans around calls into the package's layers, recorded from outside it.

``Tracer.install`` replaces every public function of the layer modules, in
every package module namespace that resolves it (``pipelines.scd2_apply``,
``queries.core.load_table``, ...), with a wrapper that records a span: name,
layer, thread, start, end and parent.  While a span is open its thread
carries a Spark job tag, so the status store's jobs are attributed to the
innermost open span.  Jobs of a streaming query inherit the tags of the
thread that started it, and the micro-batch sink's own spans open later, so
"innermost" is decided by the latest span start among a job's tags.

Spans are kept in memory only while ``recording`` is on, and written out by
the caller at exit.  Nothing in the package changes on disk.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import pkgutil
import sys
import threading
import time
import types
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

PACKAGE = "etl_cloud_logistics_spark"
LAYERS = ("session", "catalog", "queries", "operators", "pipelines", "sources", "streaming")
SPAN_TAG = "perfbench-span-"


def layer_of(module: str) -> str | None:
    parts = module.split(".")
    if parts[0] != PACKAGE or len(parts) < 2:
        return None
    return parts[1] if parts[1] in LAYERS else None


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    thread: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def tag(self) -> str:
        return f"{SPAN_TAG}{self.sid}"


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._wrapped: dict[int, types.FunctionType] = {}
        self._wrapper_ids: set[int] = set()
        self.recording = False
        self.spans: list[Span] = []
        self.overhead_s = 0.0

    def rebind(self, spark) -> None:
        """Follow a restarted SparkContext."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.recording:
            yield
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(next(self._ids), name, layer, threading.get_ident(),
                     stack[-1].sid if stack else None, 0.0)
            self.spans.append(s)
        self._sc.addJobTag(s.tag)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._sc.removeJobTag(s.tag)
            with self._lock:
                self.overhead_s += (s.start - t_in) + (time.perf_counter() - s.end)

    def wrap(self, fn: types.FunctionType) -> types.FunctionType:
        w = self._wrapped.get(id(fn))
        if w is None:
            name = f"{fn.__module__.removeprefix(PACKAGE + '.')}.{fn.__name__}"
            layer = layer_of(fn.__module__)

            @functools.wraps(fn)
            def w(*args, **kwargs):
                with self.span(name, layer):
                    return fn(*args, **kwargs)

            self._wrapped[id(fn)] = w
            self._wrapper_ids.add(id(w))
        return w

    def install(self) -> int:
        """Import every package module, then wrap the layers' public
        functions wherever a package module resolves them (including names
        a function imports at call time).  Returns the number of distinct
        functions wrapped."""
        package = importlib.import_module(PACKAGE)
        for info in pkgutil.walk_packages(package.__path__, PACKAGE + "."):
            importlib.import_module(info.name)
        originals = set()
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if (
                    isinstance(val, types.FunctionType)
                    and not attr.startswith("_")
                    and not val.__name__.startswith("_")
                    and id(val) not in self._wrapper_ids
                    and layer_of(val.__module__) is not None
                ):
                    setattr(mod, attr, self.wrap(val))
                    originals.add(id(val))
        return len(originals)

    # -- analysis -------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that its children cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s.start
            for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.sid] = (s.end - s.start) - covered
        return out

    def owner_of_jobs(self, jobs: dict[int, dict]) -> dict[int, Span]:
        """Job id -> innermost span among the job's span tags."""
        by_tag = {s.tag: s for s in self.spans}
        owner = {}
        for jid, j in jobs.items():
            tagged = [by_tag[t] for t in j["jobTags"] if t in by_tag]
            if tagged:
                owner[jid] = max(tagged, key=lambda s: s.start)
        return owner

    def dump(self, base: float) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "layer": s.layer, "thread": s.thread,
             "parent": s.parent, "start_s": round(s.start - base, 6),
             "end_s": round(s.end - base, 6)}
            for s in self.spans
        ]
