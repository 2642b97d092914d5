"""Traced run: spans around the engine's public functions, and Spark's own
counters read back from the status store.

``install`` wraps every public function of the ``sources``, ``operators``,
``plans`` and ``streaming`` packages, then rebinds every alias a module
took with ``from ... import`` (``operators.graph_iter`` binds
``fixpoint_observed`` and ``iterate_n`` by name, for example). It must
run before ``registry.load_all``; ``wrap_queries`` then wraps each
registered query's ``fn``. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from collections import defaultdict

PACKAGES = ("sources", "operators", "plans", "streaming")
OPERATOR_MODULES = ("text", "textstats", "dedup", "bpe", "graph", "graph_iter", "similarity", "joins")
ITERATE = ("plans.iterate.fixpoint", "plans.iterate.fixpoint_observed", "plans.iterate.iterate_n")


class Tracer:
    """Span recorder. A span is [id, name, layer, start, end, parent id,
    request id, extra]; parent and request come from the calling thread."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def set_request(self, rid: str | None) -> None:
        self._local.rid = rid

    def open(self, name: str, layer: str) -> list:
        with self._lock:
            self._ids += 1
            sid = self._ids
        stack = self._stack()
        span = [sid, name, layer, time.perf_counter(), None,
                stack[-1] if stack else None, getattr(self._local, "rid", None), None]
        stack.append(sid)
        return span

    def close(self, span: list, extra=None) -> None:
        span[4] = time.perf_counter()
        span[7] = extra
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, fn, name: str, layer: str, extra=None):
        """`extra(args, kwargs, result, before)` annotates the span;
        `before` is what `extra.before(args, kwargs)` returned."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = extra.before(args, kwargs) if extra is not None else None
            span = self.open(name, layer)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                self.close(span, extra(args, kwargs, result, before) if extra is not None else None)

        wrapper.__perfbench_wrapped__ = fn
        return wrapper


class _DerivedExtra:
    """fixtures.derived(spark, sf_dir, name, builder): hit or build."""

    def before(self, args, kwargs):
        from gpu_mapreduce_spark.sources import fixtures

        spark, sf_dir, name = args[:3]
        return (spark.sparkContext.applicationId, sf_dir, name) in fixtures._DERIVED_CACHE

    def __call__(self, args, kwargs, result, hit):
        return {"hit": hit, "key": str(args[2])}


class _RoundsExtra:
    """Rounds of one plans.iterate loop: the returned count, or `n` for
    iterate_n."""

    def __init__(self, fixed_n: bool) -> None:
        self.fixed_n = fixed_n

    def before(self, args, kwargs):
        return None

    def __call__(self, args, kwargs, result, _):
        if self.fixed_n:
            return {"rounds": int(kwargs["n"] if "n" in kwargs else args[2])}
        return {"rounds": int(result[1]) if result is not None else 0}


def _extra_for(name: str):
    if name == "sources.fixtures.derived":
        return _DerivedExtra()
    if name in ITERATE:
        return _RoundsExtra(fixed_n=name.endswith("iterate_n"))
    return None


def _rebind(replace: dict[int, object]) -> None:
    """Point every module-level alias of a wrapped function at its wrapper."""
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("gpu_mapreduce_spark") or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            w = replace.get(id(obj))
            if w is not None and obj is not w:
                setattr(mod, attr, w)


def install(tracer: Tracer) -> dict[int, object]:
    """Wrap the public functions of PACKAGES; returns {id(original):
    wrapper}, which `wrap_queries` uses to rebind aliases again after the
    query modules are imported."""
    # the wrappers hold their originals, so no original's id is reused
    replace: dict[int, object] = {}
    for pkg in PACKAGES:
        package = importlib.import_module(f"gpu_mapreduce_spark.{pkg}")
        for info in pkgutil.iter_modules(package.__path__):
            mod = importlib.import_module(f"{package.__name__}.{info.name}")
            layer = f"{pkg}.{info.name}"
            for attr, obj in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                    or inspect.isgeneratorfunction(obj)
                ):
                    continue
                name = f"{layer}.{attr}"
                replace[id(obj)] = tracer.wrap(obj, name, layer, _extra_for(name))
    _rebind(replace)
    return replace


def wrap_queries(tracer: Tracer, replace: dict[int, object]) -> None:
    """After registry.load_all: rebind aliases in the query modules and wrap
    every registered query function."""
    from gpu_mapreduce_spark import registry

    _rebind(replace)
    for q in registry.QUERIES.values():
        if not hasattr(q.fn, "__perfbench_wrapped__"):
            q.fn = tracer.wrap(q.fn, f"queries.{q.name}", "queries")


def self_times(spans: list[list]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover (children
    run in the parent's thread, one after another)."""
    child = defaultdict(float)
    for s in spans:
        if s[5] is not None:
            child[s[5]] += s[4] - s[3]
    return {s[0]: (s[4] - s[3]) - child[s[0]] for s in spans}


def layer_metrics(spans: list[list]) -> dict[str, float]:
    """Per-layer metrics of the engine's own layers from recorded spans."""
    selft = self_times(spans)
    m: dict[str, float] = defaultdict(float)
    for layer in OPERATOR_MODULES:
        m[f"operators.{layer}.calls"] = 0
        m[f"operators.{layer}.self_s"] = 0.0
    for key in (
        "sources.table.calls", "sources.table.s", "sources.fixtures.s",
        "sources.derived.builds", "sources.derived.dup_builds", "sources.derived.hits",
        "sources.derived.build_s", "queries.calls", "queries.build_s", "queries.collect_s",
        "plans.iterate.calls", "plans.iterate.rounds", "plans.iterate.s",
        "plans.scratch.sink_s", "streaming.pipeline.calls", "streaming.pipeline.s",
    ):
        m[key] = 0
    built: dict[str, int] = defaultdict(int)
    for s in spans:
        sid, name, layer, t0, t1, _parent, _rid, extra = s
        dur = t1 - t0
        if layer.startswith("operators."):
            mod = layer.split(".", 1)[1]
            m[f"operators.{mod}.calls"] += 1
            m[f"operators.{mod}.self_s"] += selft[sid]
        if name == "sources.tables.table":
            m["sources.table.calls"] += 1
            m["sources.table.s"] += selft[sid]
        if layer == "sources.fixtures":
            m["sources.fixtures.s"] += selft[sid]
        if name == "sources.fixtures.derived":
            if extra["hit"]:
                m["sources.derived.hits"] += 1
            else:
                m["sources.derived.builds"] += 1
                m["sources.derived.build_s"] += dur
                built[extra["key"]] += 1
        if name == "request.build":
            m["queries.calls"] += 1
            m["queries.build_s"] += dur
        if name == "request.collect":
            m["queries.collect_s"] += dur
        if name in ITERATE:
            m["plans.iterate.calls"] += 1
            m["plans.iterate.rounds"] += extra["rounds"]
            m["plans.iterate.s"] += dur
        if name == "plans.scratch.sink_roundtrip":
            m["plans.scratch.sink_s"] += dur
        if layer == "streaming.pipeline":
            m["streaming.pipeline.calls"] += 1
            m["streaming.pipeline.s"] += selft[sid]
    # a key built more than once: concurrent misses on the unlocked memo
    m["sources.derived.dup_builds"] = sum(n - 1 for n in built.values())
    looked_up = m["sources.derived.builds"] + m["sources.derived.hits"]
    m["sources.derived.hit_ratio"] = m["sources.derived.hits"] / looked_up if looked_up else 0.0
    rounds = m["plans.iterate.rounds"]
    m["plans.iterate.round_s"] = m["plans.iterate.s"] / rounds if rounds else 0.0
    return dict(m)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def wait_jobs_settled(sc, timeout_s: float = 10.0) -> None:
    """The status store is fed asynchronously by the listener bus; wait
    until no job is still listed as running."""
    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        jobs = _seq(store.jobsList(None))
        if all(j.status().toString() != "RUNNING" for j in jobs):
            return
        time.sleep(0.05)


def spark_counters(sc, groups: set[str] | None = None) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, executor run/CPU seconds, shuffle
    and input MB, spill MB, JVM GC seconds, stage wait (submission to first
    task launch), failed tasks and the worst stage's task skew (max /
    median task run time, stages of at least 4 tasks and 50 ms). Stages a
    job skipped (reused shuffle output) are not counted."""
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    out: dict[str, dict[str, float]] = {}
    seen: set[int] = set()
    for job in _seq(store.jobsList(None)):
        g = job.jobGroup()
        group = g.get() if g.isDefined() else ""
        if groups is not None and group not in groups:
            continue
        c = out.setdefault(group, defaultdict(float))
        c["jobs"] += 1
        for sid in _seq(job.stageIds()):
            if sid in seen:
                continue
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            seen.add(sid)
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            c["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            c["input_mb"] += st.inputBytes() / 1e6
            c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            c["jvm_gc_s"] += st.jvmGcTime() / 1e3
            sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                c["stage_wait_s"] += max(first.get().getTime() - sub.get().getTime(), 0) / 1e3
            if st.numTasks() >= 4 and st.executorRunTime() >= 50:
                summ = store.taskSummary(sid, st.attemptId(), q)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    if med > 0:
                        c["task_skew"] = max(c["task_skew"], mx / med)
    return {g: dict(c) for g, c in out.items()}
