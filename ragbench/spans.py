"""Span tracing for the benchmark, recorded from outside the package.

``instrument(tracer)`` replaces public functions of the package's
modules with wrappers that open a span around each call, and restores
them on exit. Nothing in the package is edited: a wrapper is installed
on the module attribute that callers resolve at call time.

Each span gets its own Spark job group, so its jobs are found with
``statusTracker().getJobIdsForGroup``; stage counters come from the
status store. Job groups are thread-local and threads started by a
``ThreadPoolExecutor`` (``build_rag_indexes``, ``write_bm25_index`` and
``run_medallion_incremental`` submit from their own pools) do not
inherit them, so while tracing, ``ThreadPoolExecutor.submit`` is
wrapped to carry the submitting thread's span into the worker thread.

Spans live in memory and are written out once at the end.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import importlib
import itertools
import os
import threading
import time
from dataclasses import dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "cpu_s", "shuffle_bytes", "out_bytes")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    phase: str
    start: float
    end: float = 0.0
    group: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    """In-memory span recorder with per-span Spark job groups.

    Counters of a span are its OWN jobs (those submitted while it was
    the innermost span on some thread); ``inclusive`` adds descendants.
    """

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.phase = "setup"  # set by the workload: setup, measure, check
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._counted_stages: set[tuple[str, int, int]] = set()

    # -- span stack (per thread) ------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def _set_group(self, group: str | None) -> None:
        sc = _active_sc()
        if sc is None:
            return
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.current()
        sp = Span(next(self._ids), name, parent.sid if parent else None,
                  self.run_id, self.phase, 0.0)
        sp.group = f"ragbench-{self.run_id}-{sp.sid}"
        with self._lock:
            self.spans.append(sp)
        self._stack().append(sp)
        self._set_group(sp.group)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack().pop()
            self._set_group(parent.group if parent else None)
            self._collect(sp)

    def attach(self) -> None:
        """Re-apply the current span's job group; call after a
        SparkContext is (re)created inside an open span."""
        cur = self.current()
        if cur is not None:
            self._set_group(cur.group)

    @contextlib.contextmanager
    def adopt(self, sp: Span | None):
        """Run the body on this thread as if inside ``sp``."""
        if sp is None:
            yield
            return
        self._stack().append(sp)
        self._set_group(sp.group)
        try:
            yield
        finally:
            self._stack().pop()
            cur = self.current()
            self._set_group(cur.group if cur else None)

    # -- Spark counters ---------------------------------------------
    def _collect(self, sp: Span) -> None:
        t0 = time.perf_counter()
        sp.counters = dict.fromkeys(COUNTERS, 0)
        sc = _active_sc()
        if sc is not None:
            jsc = sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            store = jsc.statusStore()
            jobs = set(sc.statusTracker().getJobIdsForGroup(sp.group))
            c = sp.counters
            c["jobs"] = len(jobs)
            for j in sorted(jobs):
                info = sc.statusTracker().getJobInfo(j)
                if info is None:
                    continue
                for s in list(info.stageIds):
                    self._add_stage(store, (sc.applicationId, int(s)), c)
            c["cpu_s"] = c["cpu_s"] / 1e9
        self.overhead_s += time.perf_counter() - t0

    def _add_stage(self, store, app_stage: tuple[str, int], c: dict) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            sd = store.lastStageAttempt(app_stage[1])
        except Py4JJavaError:  # stage evicted or never submitted
            return
        if str(sd.status().toString()) != "COMPLETE":
            return  # skipped: its shuffle output was reused
        # a stage object reused by a later job is listed by both; it
        # ran once, in the first job, whose span collects it first.
        # Stage ids restart with each SparkContext, hence the app id.
        key = (*app_stage, int(sd.attemptId()))
        with self._lock:
            if key in self._counted_stages:
                return
            self._counted_stages.add(key)
        c["stages"] += 1
        c["tasks"] += int(sd.numCompleteTasks())
        c["cpu_s"] += int(sd.executorCpuTime())
        c["shuffle_bytes"] += int(sd.shuffleWriteBytes())
        c["out_bytes"] += int(sd.outputBytes())

    # -- reporting --------------------------------------------------
    def _children(self) -> dict[int | None, list[Span]]:
        kids: dict[int | None, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        return kids

    def inclusive(self) -> dict[int, dict]:
        """Counters of each span plus all of its descendants."""
        kids = self._children()
        memo: dict[int, dict] = {}

        def total(s: Span) -> dict:
            if s.sid not in memo:
                out = dict(s.counters)
                for k in kids.get(s.sid, []):
                    for key, v in total(k).items():
                        out[key] = out.get(key, 0) + v
                memo[s.sid] = out
            return memo[s.sid]

        for s in self.spans:
            total(s)
        return memo

    def self_times(self) -> dict[int, float]:
        """Span wall time minus the union of its children's intervals."""
        kids = self._children()
        out = {}
        for s in self.spans:
            covered, last = 0.0, s.start
            for k in sorted(kids.get(s.sid, []), key=lambda k: k.start):
                lo, hi = max(k.start, last), min(k.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.sid] = s.wall_s - covered
        return out

    def records(self) -> list[dict]:
        inc, self_t = self.inclusive(), self.self_times()
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "run_id": s.run_id, "sid": s.sid, "name": s.name,
                "parent": s.parent, "phase": s.phase, "start": s.start - t0,
                "end": s.end - t0, "wall_s": s.wall_s,
                "self_s": self_t[s.sid], "own": s.counters,
                "inclusive": inc[s.sid],
            }
            for s in self.spans
        ]


class NullTracer:
    """Tracing off: spans cost nothing and record nothing."""

    phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def attach(self) -> None:
        pass


# Wrapped entry points: (module, attribute, span name). A name ending in
# "." is completed from the basename of the call's ``path`` argument.
TARGETS = [
    ("lakehouse_to_rag_spark.etl", "run_etl", "etl.run_etl"),
    ("lakehouse_to_rag_spark.etl", "write_layer", "etl."),
    ("lakehouse_to_rag_spark.operators.retrieval", "build_rag_indexes",
     "retrieval.build_rag_indexes"),
    ("lakehouse_to_rag_spark.operators.retrieval", "write_bm25_index",
     "retrieval.write_bm25_index"),
    ("lakehouse_to_rag_spark.operators.retrieval", "append_to_bm25_index",
     "retrieval.append_to_bm25_index"),
    ("lakehouse_to_rag_spark.operators.retrieval", "bm25_topk_from_index",
     "retrieval.bm25_topk_from_index"),
    ("lakehouse_to_rag_spark.operators.similarity", "write_ivf_index",
     "similarity.write_ivf_index"),
    ("lakehouse_to_rag_spark.operators.similarity", "append_to_ivf_index",
     "similarity.append_to_ivf_index"),
    ("lakehouse_to_rag_spark.operators.similarity", "ivf_topk_from_index",
     "similarity.ivf_topk_from_index"),
    ("lakehouse_to_rag_spark.operators.pipeline", "run_medallion_incremental",
     "pipeline.run_medallion_incremental"),
    ("lakehouse_to_rag_spark.sources.lakehouse", "upsert_by_key",
     "lakehouse.upsert_by_key."),
]

# positional index of the layer/index path for the name-completing targets
_PATH_ARG = {"write_layer": 1, "upsert_by_key": 1}


def _wrap(tracer: Tracer, fn, attr: str, name: str):
    def wrapper(*args, **kwargs):
        span_name = name
        if name.endswith("."):
            path = kwargs.get("path", args[_PATH_ARG[attr]] if len(args) > _PATH_ARG[attr] else "")
            span_name = name + os.path.basename(str(path).rstrip("/"))
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    wrapper.__wrapped__ = fn
    return wrapper


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Install the span wrappers and the job-group-carrying submit;
    restore the originals on exit."""
    saved = []
    for mod_name, attr, name in TARGETS:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)
        saved.append((mod, attr, orig))
        setattr(mod, attr, _wrap(tracer, orig, attr, name))
    pool_cls = concurrent.futures.ThreadPoolExecutor
    orig_submit = pool_cls.submit

    def submit(self, fn, /, *args, **kwargs):
        parent = tracer.current()

        def run(*a, **kw):
            with tracer.adopt(parent):
                return fn(*a, **kw)

        return orig_submit(self, run, *args, **kwargs)

    pool_cls.submit = submit
    try:
        yield tracer
    finally:
        pool_cls.submit = orig_submit
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)
