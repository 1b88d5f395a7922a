"""Layer tracing for the benchmark, done from outside the library.

``instrument`` rebinds the public entry points of ``io``, ``engine``,
``sqlfront``, ``catalog`` and ``streaming`` wherever the library's own
modules hold a reference to them, so each call opens a span. Spans live
in memory (``Tracer.spans``) and are written out when the run ends.
Spark's own records are read through ``SparkProbe``: the
``QueryExecution`` tracker, the ``AppStatusStore`` job and stage lists,
executed-plan SQL metrics and a ``StreamingQueryListener``.

Every span belongs to one statement (its root span, named ``stmt``). A
span's self time is its duration minus the part of it that its child
spans cover, so the self times of one statement's spans sum to the
statement's wall time.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import sys
import threading
import time
import weakref
from dataclasses import dataclass, field
from datetime import datetime

# Spans inside which Spark jobs are attributed to the span (by job group).
JOB_SPANS = ("queries.construct", "exec.action", "engine.sql", "streaming.drain")


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    stmt: int
    t0: float
    t1: float = 0.0
    counts: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        return {
            "name": self.name, "id": self.sid, "parent": self.parent,
            "stmt": self.stmt, "t0": self.t0, "t1": self.t1,
            "counts": self.counts,
        }


class Tracer:
    """In-memory span recorder. While ``active`` is false every span is a
    no-op, so untraced passes run the same code with nothing recorded."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.on_enter = None  # callback(span) -> token, for job groups
        self.on_exit = None   # callback(span, token)

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        if not self.active or not self._stack:
            yield None
            return
        parent = self._stack[-1]
        s = Span(name, next(self._ids), parent.sid, parent.stmt, time.time(),
                 counts=dict(counts))
        yield from self._enter(s)

    @contextlib.contextmanager
    def statement(self, kind: str):
        """Root span of one statement."""
        if not self.active:
            yield None
            return
        sid = next(self._ids)
        s = Span("stmt", sid, None, sid, time.time(), counts={"kind": kind})
        yield from self._enter(s)

    def _enter(self, s: Span):
        token = self.on_enter(s) if self.on_enter else None
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self.spans.append(s)
            if self.on_exit:
                self.on_exit(s, token)

    def add_child(self, parent: Span, name: str, t0: float, t1: float,
                  counts: dict) -> Span:
        """Record a span measured elsewhere (a streaming micro-batch),
        clipped to its parent's interval."""
        t0 = min(max(t0, parent.t0), parent.t1)
        t1 = min(max(t1, t0), parent.t1)
        s = Span(name, next(self._ids), parent.sid, parent.stmt, t0, t1,
                 dict(counts))
        self.spans.append(s)
        return s


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time (seconds) of every span: its duration minus the union of
    its children's intervals."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s.t0
        for c in sorted(children.get(s.sid, ()), key=lambda c: c.t0):
            lo, hi = max(c.t0, end, s.t0), min(c.t1, s.t1)
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s.sid] = (s.t1 - s.t0) - covered
    return out


# ---------------------------------------------------------------- patching

def _rebind(original, wrapper) -> None:
    """Point every library module's reference to ``original`` at
    ``wrapper`` (modules bind entry points with ``from ... import``)."""
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("cassandra_sql_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)


def _spanned(tracer: Tracer, name: str, fn, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as s:
            out = fn(*args, **kwargs)
            if s is not None and after is not None:
                after(s, args, out)
            return out
    return wrapper


def instrument(tracer: Tracer) -> None:
    """Wrap the library's public entry points with spans."""
    from cassandra_sql_spark import catalog, engine, io
    from cassandra_sql_spark import queries  # noqa: F401  (binds io names)
    from cassandra_sql_spark.sqlfront import preprocess
    from cassandra_sql_spark.streaming import events

    last_load: dict = {}

    def load_hit(span: Span, args, out) -> None:
        # a hit is a call that returns the very object an earlier call with
        # the same arguments returned
        key = (id(args[0]),) + tuple(args[1:])
        prev = last_load.get(key)
        span.counts["hit"] = int(prev is not None and prev() is out)
        last_load[key] = weakref.ref(out)

    _rebind(io.register, _spanned(tracer, "io.register", io.register))
    _rebind(io.load, _spanned(tracer, "io.load", io.load, after=load_hit))
    _rebind(preprocess.preprocess,
            _spanned(tracer, "sqlfront.preprocess", preprocess.preprocess))
    for fn in (events.run_available_now, events.run_foreach_batch_parquet):
        _rebind(fn, _spanned(tracer, "streaming.drain", fn))
    engine.Engine.sql = _spanned(tracer, "engine.sql", engine.Engine.sql)
    catalog.Catalog.save = _spanned(tracer, "catalog.save", catalog.Catalog.save)


# ------------------------------------------------------------ Spark records

class StreamListenerState:
    """Progress events of streaming queries, filled by a
    ``StreamingQueryListener`` on the listener-bus thread."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        state = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with state.lock:
                    state.started.add(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                rec = {
                    "run": str(p.runId),
                    "t0": datetime.fromisoformat(
                        p.timestamp.replace("Z", "+00:00")).timestamp(),
                    "dur": dict(p.durationMs or {}),
                    "rows": int(p.numInputRows or 0),
                    "state_rows": sum(int(o.numRowsTotal) for o in ops),
                    "state_mem": sum(int(o.memoryUsedBytes) for o in ops),
                    "state_commit_ms": sum(int(o.commitTimeMs) for o in ops),
                    "stateful": bool(ops),
                }
                with state.lock:
                    state.progress.append(rec)

            def onQueryTerminated(self, event):
                with state.lock:
                    state.terminated.add(str(event.runId))

        return _Listener()

    def wait_terminated(self, timeout: float = 10.0) -> None:
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if self.started <= self.terminated:
                    return
            time.sleep(0.005)

    def take(self) -> list[dict]:
        with self.lock:
            out, self.progress = self.progress, []
        return out


class SparkProbe:
    """Reads job, stage, plan, cache and streaming records for spans."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self.stream = StreamListenerState()
        spark.streams.addListener(self.stream.listener())

    # job groups: one per job-running span, so eager jobs during
    # construction are told apart from the action's jobs
    def enter(self, span: Span):
        if span.name not in JOB_SPANS:
            return None
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb-{span.sid}")
        return (prev,)

    def exit(self, span: Span, token) -> None:
        if token is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", token[0])

    def drain_bus(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def group_stats(self, span: Span) -> dict:
        """Jobs, stages, tasks and task metrics of the span's job group."""
        out = dict(jobs=0, stages=0, tasks=0, task_s=0.0, gc_s=0.0,
                   shuffle_write_b=0, shuffle_read_b=0, spill_b=0,
                   skew=1.0)
        for job in self.sc.statusTracker().getJobIdsForGroup(f"pb-{span.sid}"):
            out["jobs"] += 1
            sids = self.store.job(job).stageIds()
            for i in range(sids.size()):
                try:
                    st = self.store.lastStageAttempt(sids.apply(i))
                except Exception:  # stage skipped (shuffle reuse): no attempt
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_s"] += st.executorRunTime() / 1000.0
                out["gc_s"] += st.jvmGcTime() / 1000.0
                out["shuffle_write_b"] += st.shuffleWriteBytes()
                out["shuffle_read_b"] += st.shuffleReadBytes()
                out["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if st.numCompleteTasks() > 1:
                    dist = self.store.taskSummary(
                        st.stageId(), st.attemptId(), self._quantiles)
                    if dist.isDefined():
                        rt = dist.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        if med > 0:
                            out["skew"] = max(out["skew"], mx / med)
        return out

    @staticmethod
    def plan_metrics(plan) -> dict:
        """Sum the executed plan's SQL metrics that the per-layer record
        uses, descending through AQE wrappers to the final plan."""
        out = dict(scan_rows=0, python_total_ms=0, python_init_ms=0,
                   arrow_b=0, filter_in_rows=0)
        filter_inputs: list[int] = []  # in pre-order: topmost filter first

        def rows(node) -> int | None:
            m = node.metrics()
            return m.apply("numOutputRows").value() if m.contains(
                "numOutputRows") else None

        def rows_below(node) -> int:
            """Rows out of the nearest descendant that counts them."""
            while rows(node) is None and _children(node):
                node = _children(node)[0]
            return rows(node) or 0

        def walk(node) -> None:
            name = node.nodeName()
            if "AdaptiveSparkPlan" in name:
                return walk(node.executedPlan())
            if "QueryStage" in name:
                return walk(node.plan())
            m = node.metrics()
            if name.startswith("Scan") or name.endswith("TableScan"):
                out["scan_rows"] += rows(node) or 0
            if m.contains("pythonTotalTime"):
                out["python_total_ms"] += m.apply("pythonTotalTime").value()
                out["python_init_ms"] += (m.apply("pythonInitTime").value()
                                          + m.apply("pythonBootTime").value())
                out["arrow_b"] += (m.apply("pythonDataSent").value()
                                   + m.apply("pythonDataReceived").value())
            if name == "Filter" and _children(node):
                filter_inputs.append(rows_below(_children(node)[0]))
            for c in _children(node):
                walk(c)

        walk(plan)
        # rows entering the topmost filter: the candidate pairs that a
        # pair-producing statement verifies
        out["filter_in_rows"] = filter_inputs[0] if filter_inputs else 0
        return out

    def cache_state(self) -> tuple[int, float]:
        """Persisted RDDs the session still holds, and their size in MB."""
        infos = self.jsc.getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return self.sc._jsc.getPersistentRDDs().size(), size / 1e6


def _children(node) -> list:
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def tracker_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) from the DataFrame's QueryExecution."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out
