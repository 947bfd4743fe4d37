"""Traced runs: spans around the program's public calls, recorded from
the benchmark's own files.

``install()`` wraps each layer's public functions once; the wrappers
cost one flag test while tracing is off.  Spans are kept in memory:
name, start, end, parent and the id of the operation they belong to.
A span's self time is its duration minus the part its children cover,
so the self times of one operation add up to its wall time.  Spark's
job, stage and task figures are read from Spark's status store
once, after the traced operations, and assigned to the operation
whose wall-clock interval holds each job's submission.
"""

from __future__ import annotations

import contextlib
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "clickhouse_is_a_free_analytics_dbms_for_big_data__spark"

# span names of the layers; "bench.op" is the operation itself, and its
# self time is the part no layer span covers
ROOT = "bench.op"
INTERNAL = "trace.internal"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    op: int | None = None
    py4j0: int = 0
    py4j1: int = 0
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        covered, last = 0.0, self.start
        for c in sorted(self.children, key=lambda s: s.start):
            lo, hi = max(c.start, last), min(c.end, self.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return self.dur - covered


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.stack: list[Span] = []
        self.py4j = 0
        self.counting = True
        self.main = threading.get_ident()
        self.rows_checkpointed = 0

    # ------------------------------------------------------------ spans
    def _open(self, name: str) -> Span | None:
        if not self.enabled or threading.get_ident() != self.main:
            return None
        parent = self.stack[-1] if self.stack else None
        s = Span(name, time.perf_counter(), parent=parent,
                 op=parent.op if parent else None, py4j0=self.py4j)
        if parent is not None:
            parent.children.append(s)
        self.stack.append(s)
        return s

    def _close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        s.py4j1 = self.py4j
        self.stack.pop()
        self.spans.append(s)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self._open(name)
        try:
            yield s
        finally:
            self._close(s)

    @contextlib.contextmanager
    def op(self, kind: str, label: str):
        """The root span of one operation, with its wall-clock interval
        (for matching Spark jobs to it)."""
        rec = {"kind": kind, "label": label, "t0": time.time()}
        s = self._open(ROOT)
        if s is not None:
            s.op = len(self.ops)
            rec["span"] = s
        try:
            yield rec
        finally:
            self._close(s)
            rec["t1"] = time.time()
            if s is not None:
                self.ops.append(rec)

    def reset(self) -> None:
        self.spans, self.ops, self.stack = [], [], []
        self.rows_checkpointed = 0


TRACER = Tracer()


def _wrap_callable(fn, name: str):
    def wrapper(*a, **kw):
        if not TRACER.enabled:
            return fn(*a, **kw)
        s = TRACER._open(name)
        try:
            return fn(*a, **kw)
        finally:
            TRACER._close(s)

    wrapper.__wrapped__ = fn
    wrapper.__name__ = getattr(fn, "__name__", name)
    wrapper.__doc__ = getattr(fn, "__doc__", None)
    return wrapper


def _wrap_function(module, attr: str, name: str) -> None:
    """Wrap a module-level function and every binding of it that other
    loaded modules of the package made with ``from x import f``."""
    orig = getattr(module, attr)
    w = _wrap_callable(orig, name)
    for mname, m in list(sys.modules.items()):
        if m is not None and (mname == PKG or mname.startswith(PKG + ".")):
            if getattr(m, attr, None) is orig:
                setattr(m, attr, w)
    setattr(module, attr, w)


def _wrap_method(cls, attr: str, name: str) -> None:
    setattr(cls, attr, _wrap_callable(cls.__dict__[attr], name))


def _counting(orig):
    def send_command(self, *a, **kw):
        if TRACER.enabled and TRACER.counting:
            TRACER.py4j += 1
        return orig(self, *a, **kw)

    return send_command


def _count_py4j() -> None:
    from py4j.java_gateway import GatewayClient

    GatewayClient.send_command = _counting(GatewayClient.send_command)


def own_time_s(n_spans: int, n_py4j: int, internal_s: float, reps: int = 20_000) -> float:
    """Seconds the tracer itself added to the traced operations: the
    work of its own spans (``internal_s``, the row counts of
    localCheckpoint) plus its bookkeeping, timed here per span and per
    counted Py4J call.  Comparing a traced run with an untraced one
    instead would measure warm-up as much as tracing: the program keeps
    getting faster from one pass to the next."""
    def noop(_self=None):
        return None

    def per_call(fn) -> float:
        t0 = time.perf_counter()
        for _ in range(reps):
            fn(None)
        return (time.perf_counter() - t0) / reps

    n_spans0, py4j0, was = len(TRACER.spans), TRACER.py4j, TRACER.enabled
    TRACER.enabled = True
    try:
        bare = per_call(noop)
        span_cost = per_call(_wrap_callable(noop, "trace.calibrate")) - bare
        count_cost = per_call(_counting(noop)) - bare
    finally:
        TRACER.enabled = was
        del TRACER.spans[n_spans0:]
        TRACER.py4j = py4j0
    return internal_s + n_spans * max(span_cost, 0.0) + n_py4j * max(count_cost, 0.0)


def _count_checkpointed_rows(cls) -> None:
    """localCheckpoint: besides the action span, count the rows it
    materialised (write amplification of the in-memory parts)."""
    orig = cls.__dict__["localCheckpoint"]

    def localCheckpoint(self, *a, **kw):
        out = orig(self, *a, **kw)
        if TRACER.enabled and threading.get_ident() == TRACER.main:
            s = TRACER._open(INTERNAL)
            TRACER.counting = False
            try:
                TRACER.rows_checkpointed += out._jdf.count()
            finally:
                TRACER.counting = True
                TRACER._close(s)
        return out

    cls.localCheckpoint = localCheckpoint


_INSTALLED = False


def install() -> None:
    """Wrap the program's layer entry points (idempotent)."""
    global _INSTALLED
    if _INSTALLED:
        return
    _INSTALLED = True
    import importlib

    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.session import SparkSession

    session = importlib.import_module(PKG + ".session")
    engine = importlib.import_module(PKG + ".dialect.engine")
    translate = importlib.import_module(PKG + ".dialect.translate")
    statements = importlib.import_module(PKG + ".dialect.statements")
    formats = importlib.import_module(PKG + ".sources.formats")
    mergetree = importlib.import_module(PKG + ".sources.mergetree")
    catalog = importlib.import_module(PKG + ".sources.catalog")
    importlib.import_module(PKG + ".queries").queries_map()  # load every builder module

    _count_py4j()
    _count_checkpointed_rows(DataFrame)
    _wrap_function(session, "get_session", "session.start")
    _wrap_method(engine.ChEngine, "__init__", "dialect.engine_init")
    _wrap_method(engine.ChEngine, "execute", "dialect.engine")
    _wrap_function(translate, "translate_sql", "dialect.translate")
    _wrap_function(statements, "execute_statement", "dialect.statement")
    _wrap_function(formats, "format_result", "sources.formats.render")
    for f in ("compact_replacing", "compact_summing", "compact_collapsing"):
        _wrap_function(mergetree, f, "sources.mergetree.compact")
    _wrap_function(mergetree, "write_mergetree", "sources.mergetree.write")
    _wrap_function(catalog, "load_tables", "sources.catalog.load")
    _wrap_method(SparkSession, "sql", "spark.analyze")
    for m in ("collect", "count", "first", "take", "head", "toPandas", "toArrow",
              "localCheckpoint", "checkpoint", "toLocalIterator", "foreach",
              "foreachPartition", "isEmpty"):
        _wrap_method(DataFrame, m, "spark.action")
    for m in ("save", "parquet", "saveAsTable", "insertInto", "json", "csv", "text", "orc"):
        _wrap_method(DataFrameWriter, m, "spark.action")


# ---------------------------------------------------------- status store

def spark_jobs(spark, since_ms: float, wait_s: float = 5.0) -> list[dict]:
    """Jobs submitted at or after ``since_ms`` (epoch ms) with their
    stages' task, executor-time, shuffle, spill and input figures.
    Waits for the asynchronous listener bus to record completions."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jvm = spark.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    deadline = time.time() + wait_s
    while True:
        jobs = list(conv.asJava(store.jobsList(None)))
        pending = [j for j in jobs if not j.completionTime().isDefined()]
        if not pending or time.time() > deadline:
            break
        time.sleep(0.2)
    out = []
    for j in jobs:
        sub = j.submissionTime()
        t = sub.get().getTime() if sub.isDefined() else 0
        if t < since_ms:
            continue
        rec = {"job": j.jobId(), "t": t, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
               "shuffle_write": 0, "spill": 0, "input_rows": 0}
        for sid in conv.asJava(j.stageIds()):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store, or skipped
                continue
            if st is not None:
                rec["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                rec["run_ms"] += st.executorRunTime()
                rec["cpu_ns"] += st.executorCpuTime()
                rec["shuffle_write"] += st.shuffleWriteBytes()
                rec["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                rec["input_rows"] += st.inputRecords()
        out.append(rec)
    return out


# ------------------------------------------------------------- summary

def summarize(jobs: list[dict]) -> dict:
    """Per-layer figures of the traced operations (means per op) and
    the accounting check."""
    ops = TRACER.ops
    n = max(len(ops), 1)
    by_name: dict[str, float] = {}
    incl: dict[str, float] = {}
    internal = 0.0
    for s in TRACER.spans:
        if s.op is None:
            continue
        if s.name == INTERNAL:
            internal += s.dur
        by_name[s.name] = by_name.get(s.name, 0.0) + s.self_time()
        incl[s.name] = incl.get(s.name, 0.0) + s.dur
    unattributed = []
    walls = []
    for o in ops:
        root = o["span"]
        wall = root.dur
        walls.append(wall)
        unattributed.append(root.self_time() / wall if wall > 0 else 0.0)
    # job attribution by submission time
    per_op = [{"jobs": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "shuffle_write": 0,
               "spill": 0, "input_rows": 0, "build_jobs": 0} for _ in ops]
    builds = [[(s.start, s.end) for s in TRACER.spans if s.op == i and s.name == "queries.build"]
              for i in range(len(ops))]
    internal_iv = [(s.start, s.end) for s in TRACER.spans if s.name == INTERNAL]
    off = time.time() - time.perf_counter()
    for j in jobs:
        t = j["t"] / 1000.0
        if any(lo + off - 0.002 <= t <= hi + off + 0.002 for lo, hi in internal_iv):
            continue
        for i, o in enumerate(ops):
            if o["t0"] - 0.002 <= t <= o["t1"] + 0.002:
                rec = per_op[i]
                rec["jobs"] += 1
                for k in ("tasks", "run_ms", "cpu_ns", "shuffle_write", "spill", "input_rows"):
                    rec[k] += j[k]
                if any(lo + off - 0.002 <= t <= hi + off + 0.002 for lo, hi in builds[i]):
                    rec["build_jobs"] += 1
                break

    def tot(k):
        return sum(r[k] for r in per_op)

    n_build = sum(1 for s in TRACER.spans if s.name == "queries.build" and s.op is not None)
    build_py4j = sum(s.py4j1 - s.py4j0 for s in TRACER.spans if s.name == "queries.build" and s.op is not None)
    op_py4j = sum(o["span"].py4j1 - o["span"].py4j0 for o in ops)
    return {
        "n_ops": len(ops),
        "self_ms_per_op": {k: 1000.0 * v / n for k, v in sorted(by_name.items())},
        "incl_ms_per_op": {k: 1000.0 * v / n for k, v in sorted(incl.items())},
        "wall_ms_per_op": 1000.0 * sum(walls) / n,
        "internal_ms_per_op": 1000.0 * internal / n,
        "unattributed_ratio": (sum(o["span"].self_time() for o in ops) / sum(walls)) if walls else 0.0,
        "unattributed_max": max(unattributed, default=0.0),
        "py4j_ops": op_py4j,
        "py4j_per_op": op_py4j / n,
        "py4j_per_build": build_py4j / n_build if n_build else 0.0,
        "builds": n_build,
        "jobs_per_op": tot("jobs") / n,
        "tasks_per_op": tot("tasks") / n,
        "executor_run_ms_per_op": tot("run_ms") / n,
        "executor_cpu_ms_per_op": tot("cpu_ns") / 1e6 / n,
        "shuffle_write_bytes_per_op": tot("shuffle_write") / n,
        "spill_bytes_per_op": tot("spill") / n,
        "input_rows_per_op": tot("input_rows") / n,
        "eager_jobs_per_build": tot("build_jobs") / n_build if n_build else 0.0,
        "rows_checkpointed": TRACER.rows_checkpointed,
    }
