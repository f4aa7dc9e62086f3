"""Span tracing around ``hoodie_spark``'s public entry points.

The tracer wraps functions from the outside (the library is not touched):
each call opens a span with a parent link, and at the end of the traced
run the Spark jobs of the whole run are read once from the status store
(which works with ``spark.ui.enabled=false``) and attributed to spans.

Attribution: the benchmark drives Spark from one client thread in a
closed loop, so a job belongs to the innermost span whose interval holds
its submission time; jobs submitted from helper threads inside a call
(parallel writes, broadcasts) land in that call's span too. A span's
``self_s`` is its duration minus what its child spans cover, and its
``driver_s`` is the part of that self time outside the union of its own
jobs' submit-to-complete intervals.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from dataclasses import dataclass, field

# span name -> (module, attribute path) of the wrapped entry points
SPANS: dict[str, list[tuple[str, str]]] = {
    "table.commit": [("hoodie_spark.table", "HoodieTable.upsert"),
                     ("hoodie_spark.table", "HoodieTable.insert"),
                     ("hoodie_spark.table", "HoodieTable.delete")],
    "keygen.with_keys": [("hoodie_spark.keygen", "with_keys")],
    "index.tag_location": [("hoodie_spark.index", "tag_location")],
    "fsview.build": [("hoodie_spark.fsview", "FileSystemView.__init__")],
    "timeline.complete": [("hoodie_spark.timeline", "Timeline.complete")],
    "reader.snapshot": [("hoodie_spark.reader", "ReadClient.snapshot")],
    "reader.incremental": [("hoodie_spark.reader", "ReadClient.incremental")],
    "services.compact": [("hoodie_spark.services.compact", "compact")],
    "services.clean": [("hoodie_spark.services.clean", "clean")],
    "services.archive": [("hoodie_spark.services.archive", "archive")],
    "streaming.filter_batch": [("hoodie_spark.streaming.incremental_dedup",
                                "IncrementalDeduper.filter_batch")],
    "streaming.advance": [("hoodie_spark.streaming.incremental_dedup",
                           "IncrementalDeduper.advance")],
    "functions.gopher_filter": [("hoodie_spark.functions.quality",
                                 "gopher_filter")],
    "functions.bigram_perplexity": [("hoodie_spark.functions.lm",
                                     "bigram_perplexity")],
    "functions.train_bigram_lm": [("hoodie_spark.functions.lm",
                                   "train_bigram_lm")],
    "functions.dedup_keep_best": [("hoodie_spark.functions.dedup",
                                   "dedup_keep_best")],
    "functions.duplicate_groups": [("hoodie_spark.functions.components",
                                    "duplicate_groups")],
}
# counted, not timed: these run hundreds of times inside fsview.build
COUNTERS: dict[str, tuple[str, str]] = {
    "timeline.metadata": ("hoodie_spark.timeline", "Timeline.metadata"),
}
SPAN_FIELDS = ("calls", "self_s", "jobs", "executor_s", "shuffle_bytes",
               "driver_s")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    submit: float        # epoch seconds
    end: float
    executor_s: float
    shuffle_bytes: int


# ------------------------------------------------------ interval arithmetic
def union(intervals):
    """Merge overlapping ``(start, end)`` intervals."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(x) for x in out]


def subtract(base, cut):
    """``base`` minus ``cut``; both are lists of intervals."""
    out = union(base)
    for cs, ce in union(cut):
        nxt = []
        for s, e in out:
            if ce <= s or cs >= e:
                nxt.append((s, e))
                continue
            if s < cs:
                nxt.append((s, cs))
            if ce < e:
                nxt.append((ce, e))
        out = nxt
    return out


def length(intervals) -> float:
    return sum(e - s for s, e in union(intervals))


def self_region(span: Span, spans: list[Span]):
    return subtract([(span.start, span.end)],
                    [(spans[c].start, spans[c].end) for c in span.children])


# ------------------------------------------------------------ attribution
def owner(spans: list[Span], t: float) -> int | None:
    """Innermost span whose interval holds instant ``t``."""
    best = None
    for i, sp in enumerate(spans):
        if sp.start <= t <= sp.end and (
                best is None or sp.start >= spans[best].start):
            best = i
    return best


def summarize(spans: list[Span], jobs: list[Job],
              names=None) -> dict[str, dict]:
    """Per span name: calls, self_s, jobs, executor_s, shuffle_bytes and
    driver_s summed over its calls. Names in ``names`` that were never
    called report zeros."""
    owned: dict[int, list[Job]] = {}
    for j in jobs:
        i = owner(spans, j.submit)
        if i is not None:
            owned.setdefault(i, []).append(j)
    out = {n: dict.fromkeys(SPAN_FIELDS, 0) for n in (names or ())}
    for i, sp in enumerate(spans):
        own = owned.get(i, [])
        region = self_region(sp, spans)
        busy = [(j.submit, j.end) for j in own]
        acc = out.setdefault(sp.name, dict.fromkeys(SPAN_FIELDS, 0))
        acc["calls"] += 1
        acc["self_s"] += length(region)
        acc["jobs"] += len(own)
        acc["executor_s"] += sum(j.executor_s for j in own)
        acc["shuffle_bytes"] += sum(j.shuffle_bytes for j in own)
        acc["driver_s"] += length(subtract(region, busy))
    return out


# ----------------------------------------------------------------- tracer
class Tracer:
    """Records spans while ``active``; wrapping is installed once."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counters: dict[str, int] = {}
        self.active = False
        self._local = threading.local()
        self._undo: list = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        idx = len(self.spans)
        sp = Span(name, time.time(), parent=parent)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        stack.append(idx)
        try:
            yield
        finally:
            sp.end = time.time()
            stack.pop()

    @contextlib.contextmanager
    def paused(self):
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    def _spanned(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return wrapper

    def _counted(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if self.active:
                self.counters[name] = self.counters.get(name, 0) + 1
            return fn(*a, **kw)
        return wrapper

    def install(self) -> None:
        """Wrap every entry point in :data:`SPANS` and :data:`COUNTERS`.

        A module-level function is replaced in every loaded
        ``hoodie_spark`` module that holds it (``from x import f`` makes
        copies of the reference); a method is replaced on its class."""
        import importlib

        def patch(mod_name, path, make):
            mod = importlib.import_module(mod_name)
            if "." in path:
                cls_name, attr = path.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[attr]
                setattr(cls, attr, make(orig))
                self._undo.append((cls, attr, orig))
                return
            orig = getattr(mod, path)
            new = make(orig)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("hoodie_spark") \
                        and getattr(m, path, None) is orig:
                    setattr(m, path, new)
                    self._undo.append((m, path, orig))

        for name, targets in SPANS.items():
            for mod_name, path in targets:
                patch(mod_name, path, functools.partial(self._spanned, name))
        for name, (mod_name, path) in COUNTERS.items():
            patch(mod_name, path, functools.partial(self._counted, name))

    def uninstall(self) -> None:
        for owner_obj, attr, orig in reversed(self._undo):
            setattr(owner_obj, attr, orig)
        self._undo.clear()


def read_jobs(spark) -> list[Job]:
    """Every job the status store holds, with its stages' executor run
    time and shuffle write bytes. Each stage is charged once, to the
    lowest job id that lists it (later jobs list a reused shuffle stage
    as skipped)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    stages: dict[int, tuple[float, int]] = {}
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for s in conv.asJava(store.stageList(None, False, False,
                                         no_quantiles, None)):
        run_s, shuf = stages.get(s.stageId(), (0.0, 0))
        stages[s.stageId()] = (run_s + s.executorRunTime() / 1000.0,
                               shuf + s.shuffleWriteBytes())
    raw = []
    for j in conv.asJava(store.jobsList(None)):
        sub, done = j.submissionTime(), j.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            continue
        raw.append((j.jobId(), sub.get().getTime() / 1000.0,
                    done.get().getTime() / 1000.0,
                    list(conv.asJava(j.stageIds()))))
    charged: set[int] = set()
    jobs = []
    for job_id, sub, done, stage_ids in sorted(raw):
        run_s, shuf = 0.0, 0
        for sid in stage_ids:
            if sid in charged or sid not in stages:
                continue
            charged.add(sid)
            run_s += stages[sid][0]
            shuf += stages[sid][1]
        jobs.append(Job(job_id, sub, done, run_s, shuf))
    return jobs
