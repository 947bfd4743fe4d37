"""The repo benchmark: one closed-loop client, one local Spark session.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 10 --trace 0

Workloads: sql_interactive and batch_jobs (NOTES.md says what each one
stresses and why).  The run makes its inputs from
``--seed`` in a separate process, sets the program up three times (the
first from a cold start) and reports the median, warms up, measures
the whole rounds that ``--seconds`` buys, then checks every result.  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` measures the same way, replays the
measured operations with spans on, and prints the per-layer metrics.

The last stdout line is the result JSON; the line before it holds the
ungated details (sentinels, host sizing, tails with sample counts,
workload-specific latencies).
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "clickhouse_is_a_free_analytics_dbms_for_big_data__spark"
sys.path.insert(0, HERE)

import batchwork  # noqa: E402
import checks  # noqa: E402
import host  # noqa: E402
import mtwork  # noqa: E402
import sqlwork  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from tracing import TRACER  # noqa: E402

WORKLOADS = ("sql_interactive", "batch_jobs")
SETUPS = 3
DRIVER_MEM = "2g"
# rows a client fetches per SELECT (the CLI's --max-rows)
MAX_ROWS = 1_000_000
# ``--seconds`` buys whole rounds (sql_interactive) or passes
# (batch_jobs), counted at what one takes on a quiet 4-CPU host, so
# every run at one setting does the same work however busy the host is
# (its speed swings by a third from minute to minute).
SQL_ROUND_S = 5.0
BATCH_PASS_S = 30.0


def rounds_for(seconds: float, per_round: float) -> int:
    return max(1, round(seconds / per_round))


def mod(name: str):
    """A module of the program, imported on first use."""
    import importlib

    return importlib.import_module(PKG + name)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: float, data: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.data = data
        self.attempted = 0
        self.failures: list[str] = []
        self.detail: dict = {}
        self.spark = self.eng = None
        self.plan: dict = {}
        self.stores: list[str] = []
        self.inputs: Inputs | None = None

    # --------------------------------------------------------- helpers
    def fail(self, what: str) -> None:
        self.failures.append(what)
        if len(self.failures) <= 5:
            log(f"FAIL {what}")

    def execute(self, sql: str, kind: str, label: str) -> tuple[str | None, float]:
        """One statement as a client runs it: ChEngine.execute, then
        format_result for SELECTs.  Returns (printed text, seconds)."""
        formats = mod(".sources.formats")
        eng = self.eng
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with TRACER.op(kind, label):
                df = eng.execute(sql)
                text = None
                if df is not None:
                    fmt = eng.last_format or "TabSeparated"
                    text = formats.format_result(
                        df, fmt, max_rows=MAX_ROWS, totals=eng.last_totals,
                        extremes=eng.last_extremes, settings=eng.last_settings,
                        ch_types=eng.last_out_ch_types, ch_names=eng.last_out_ch_names,
                        totals_default_cols=eng.last_totals_default_cols,
                        const_cols=eng.last_out_const_cols,
                        rows_before_limit=(eng.rows_before_limit()
                                           if fmt.startswith(("JSON", "XML")) else None),
                    )
        except Exception as e:  # a failed statement is a counted result
            self.fail(f"{label}: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
            return None, time.perf_counter() - t0
        return text, time.perf_counter() - t0

    # ----------------------------------------------------------- setup
    def register(self) -> None:
        w, spark, eng = self.workload, self.spark, self.eng
        if w == "sql_interactive":
            files = self.plan["files"]
            meta = mod(".dialect").TableMeta(primary_key=("CounterID", "EventDate"), sample_key="UserID")
            eng.register_table("hits", spark.read.parquet(files["hits"]), meta)
            eng.register_table("regions", spark.read.parquet(files["regions"]))
        else:
            catalog = mod(".sources.catalog")
            catalog.load_tables(spark, os.path.dirname(self.plan["files"]["events"]),
                                ("events", "documents"))

    def setup(self) -> None:
        """SETUPS set-ups: session, engine, table registration.  The
        first counts from process start (imports, JVM launch)."""
        times = []
        for i in range(SETUPS):
            t0 = T_PROCESS if i == 0 else time.perf_counter()
            if i:
                self.spark.stop()
            session, dialect = mod(".session"), mod(".dialect")
            mod(".sources.formats")
            self.spark = session.get_session(
                app_name="perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # keep the JVM's scratch files inside the checkout
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
                },
            )
            self.eng = dialect.ChEngine(self.spark)
            if not self.plan:
                self.plan = self.inputs.result()
            self.register()
            times.append(time.perf_counter() - t0)
        self.detail["setup_times_s"] = times
        self.detail["setup_cold_s"] = times[0]
        self.setup_s = stats.median(times)

    # ----------------------------------------------------- workloads
    def statements(self, ops: list[dict], suffix: str = "") -> list[dict]:
        """Run CH statements in order; ``{t}`` in an ingest statement
        names its table (role + ``suffix``)."""
        done = []
        for op in ops:
            kind = op.get("kind", "select")
            if "role" in op:
                sql, label = op["sql"].replace("{t}", mtwork.table_name(op["role"], suffix)), \
                    f"{kind}:{op['role']}"
            else:
                sql, label = op["sql"], op["tpl"]
            text, dt = self.execute(sql, kind, label)
            done.append({"op": op, "text": text, "dt": dt})
        return done

    def check_sql(self, done: list[dict]) -> None:
        for d in done:
            if d["text"] is None:
                continue
            fmt = sqlwork.TEMPLATES[d["op"]["tpl"]][0]
            why = checks.check_select(d["op"]["tpl"], fmt, d["text"], self.plan["want"][d["op"]["sql"]])
            if why:
                self.fail(f"{d['op']['tpl']}: {why}")

    def run_sql(self) -> dict:
        warm = self.statements(self.plan["warm"])
        self.detail["warm_ms"] = {d["op"]["tpl"]: round(d["dt"] * 1000) for d in warm}
        stream, per_round = self.plan["stream"], len(sqlwork.TEMPLATES)
        self.measured_ops = [stream[i % len(stream)]
                             for i in range(rounds_for(self.seconds, SQL_ROUND_S) * per_round)]
        measured = self.statements(self.measured_ops)
        self.rss = host.peak_rss_mb()
        self.check_sql(warm + measured)
        full = [sum(d["dt"] for d in measured[i:i + per_round])
                for i in range(0, len(measured), per_round)]
        lat = [d["dt"] * 1000 for d in measured]
        by_tpl: dict[str, list[float]] = {}
        for d in measured:
            by_tpl.setdefault(d["op"]["tpl"], []).append(d["dt"] * 1000)
        self.detail["template_ms"] = {t: round(stats.median(v)) for t, v in sorted(by_tpl.items())}
        out_bytes = sum(len(d["text"].encode()) for d in measured if d["text"] is not None)
        rows = sum(len(checks.parse_output(d["text"], sqlwork.TEMPLATES[d["op"]["tpl"]][0])[0])
                   for d in measured if d["text"] is not None)
        wall = sum(d["dt"] for d in measured)
        self.detail["bytes_out_per_stmt"] = out_bytes / max(len(measured), 1)
        self.detail["repeat_share"] = _repeat_share(warm, measured)
        return {"read_ms": lat, "ops": len(measured), "wall": wall,
                "rows": rows, "rows_wall": wall, "passes": full}

    def check_mt(self, done: list[dict]) -> None:
        for d in done:
            op = d["op"]
            if op["kind"] == "select" and d["text"] is not None:
                rows, _ = checks.parse_output(d["text"], "TabSeparated")
                if not checks.same_rows(rows, op["want"]):
                    self.fail(f"{op['role']} read {op['sql'][:60]!r}: got {rows[:2]} want {op['want'][:2]}")

    def pass_dir(self) -> str:
        """A fresh input directory of symlinks to the seeded files (a
        new path every pass, so no plan memo of the program hits)."""
        d = os.path.join(self.data, f"pbsf_{self.seed}_{os.getpid()}_{len(self.stores)}")
        os.makedirs(d)
        for name, path in self.plan["files"].items():
            os.symlink(path, os.path.join(d, f"{name}.parquet"))
        hits_q = mod(".queries.hits_q")
        self.stores.append(hits_q._hits_store_path(d))
        return d

    def drop_pass(self, d: str) -> None:
        shutil.rmtree(self.stores[-1], ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)

    def batch_pass(self) -> dict:
        """Store build, every builder (each result fetched by the client
        and checked outside the builder's timing), then one ingest
        round into fresh MergeTree tables."""
        qm = mod(".queries").queries_map()
        hits_q = mod(".queries.hits_q")
        d = self.pass_dir()
        res = {"ops": {}, "store": None, "stmts": [], "parts": 0}
        try:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with TRACER.op("store", "store_build"):
                    hits_q.ensure_hits_stored(self.spark, d)
            except Exception as e:
                self.fail(f"store build: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
            res["store"] = time.perf_counter() - t0
            for name in batchwork.OPS:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with TRACER.op("batch", name):
                        with TRACER.span("queries.build"):
                            df = qm[name](self.spark, d)
                        rows = df.collect()
                except Exception as e:
                    self.fail(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
                    continue
                res["ops"][name] = time.perf_counter() - t0
                want = self.plan["want"].get(name)
                if want is not None:
                    why = checks.oracle_compare(
                        df.columns, [list(r) for r in rows], want["cols"], want["rows"],
                        batchwork.MIN_RECALL if name in batchwork.LSH_OPS else None)
                    if why:
                        self.fail(f"{name}: {why}")
        finally:
            self.drop_pass(d)
        suffix = f"_p{len(self.stores)}"
        tables = [mtwork.table_name(role, suffix) for role in mtwork.ROLES]
        for role, t in zip(mtwork.ROLES, tables):
            self.eng.execute(mtwork.DDL[role].format(t=t))
        res["stmts"] = self.statements(self.plan["ingest"], suffix)
        self.check_mt(res["stmts"])
        if TRACER.enabled:
            TRACER.enabled = False
            rows = self.eng.execute(
                f"SELECT count() FROM system.parts WHERE active AND table LIKE '%{suffix}'").collect()
            res["parts"] = int(rows[0][0])
            TRACER.enabled = True
        for t in tables:
            self.eng.execute(f"DROP TABLE {t}")
        return res

    def run_batch(self, n_passes: int | None = None) -> dict:
        """The passes ``seconds`` buy, or exactly ``n_passes``.  No
        warm-up: a batch job pays its JVM's first-use costs on every
        submission."""
        n = rounds_for(self.seconds, BATCH_PASS_S) if n_passes is None else n_passes
        passes = [self.batch_pass() for _ in range(n)]
        self.rss = host.peak_rss_mb()
        self.measured_passes = len(passes)
        stmts = [d for p in passes for d in p["stmts"]]
        by_kind: dict[str, list[float]] = {}
        for d in stmts:
            by_kind.setdefault(d["op"]["kind"], []).append(d["dt"])
        ins, opt = by_kind.get("insert", []), by_kind.get("optimize", [])
        self.detail["store_build_s"] = stats.median([p["store"] for p in passes])
        self.detail["op_s"] = {n: stats.median([p["ops"][n] for p in passes if n in p["ops"]])
                               for n in passes[0]["ops"]}
        self.detail["insert_p50_ms"] = 1000 * stats.median(ins)
        self.detail["insert_tail"] = stats.tail_summary([1000 * v for v in ins])
        self.detail["optimize_p50_ms"] = 1000 * stats.median(opt)
        reads = [v for p in passes for v in p["ops"].values()] + by_kind.get("select", [])
        full = [sum(p["ops"].values()) + sum(d["dt"] for d in p["stmts"]) for p in passes]
        return {"read_ms": [1000 * v for v in reads], "ops": len(reads) + len(ins) + len(opt),
                "wall": sum(full), "passes": full, "parts": passes[-1]["parts"],
                "rows": sum(d["op"]["rows"] for d in stmts if d["op"]["kind"] == "insert"),
                "rows_wall": sum(ins), "n_stmt": len(stmts),
                "out_bytes": sum(len(d["text"].encode()) for d in stmts if d["text"] is not None)}

    def run_workload(self) -> dict:
        return self.run_sql() if self.workload == "sql_interactive" else self.run_batch()

    # ---------------------------------------------------------- trace
    def replay(self) -> dict:
        """Run exactly the measured operations again (batch passes get
        fresh directories and tables)."""
        if self.workload == "sql_interactive":
            done = self.statements(self.measured_ops)
            self.check_sql(done)
            return {"wall": sum(d["dt"] for d in done), "rows": 0, "parts": 0, "n_stmt": len(done),
                    "out_bytes": sum(len(d["text"].encode()) for d in done if d["text"] is not None)}
        return self.run_batch(self.measured_passes)

    def replay_traced(self) -> dict:
        """Replay the measured operations with spans on: per-layer
        figures, and the tracing overhead as the replay's wall time
        over that time less the tracer's own."""
        since = time.time() * 1000
        TRACER.reset()
        TRACER.enabled = True
        try:
            traced = self.replay()
        finally:
            TRACER.enabled = False
        jobs = tracing.spark_jobs(self.spark, since)
        s = tracing.summarize(jobs)
        rows_in, out_bytes, n_stmt = traced["rows"], traced["out_bytes"], traced["n_stmt"]
        me = s["self_ms_per_op"]
        wall = s["wall_ms_per_op"] * s["n_ops"] / 1000.0
        own = tracing.own_time_s(sum(1 for sp in TRACER.spans if sp.op is not None),
                                 s["py4j_ops"], s["internal_ms_per_op"] * s["n_ops"] / 1000.0)
        m = {
            "dialect.translate_ms": me.get("dialect.translate", 0.0),
            "dialect.engine_self_ms": me.get("dialect.engine", 0.0),
            "dialect.statement_self_ms": me.get("dialect.statement", 0.0),
            "dialect.engine_init_s": self.detail["engine_init_s"],
            "dialect.py4j_calls_per_stmt": s["py4j_per_op"],
            "dialect.rows_rewritten_per_row_inserted": (s["rows_checkpointed"] / rows_in) if rows_in else 0.0,
            "spark.analyze_ms": me.get("spark.analyze", 0.0),
            "spark.action_ms": me.get("spark.action", 0.0),
            "spark.jobs_per_op": s["jobs_per_op"],
            "spark.tasks_per_op": s["tasks_per_op"],
            "spark.executor_run_ms_per_op": s["executor_run_ms_per_op"],
            "spark.executor_cpu_ms_per_op": s["executor_cpu_ms_per_op"],
            "spark.shuffle_write_bytes_per_op": s["shuffle_write_bytes_per_op"],
            "spark.spill_bytes_per_op": s["spill_bytes_per_op"],
            "spark.input_rows_per_op": s["input_rows_per_op"],
            "sources.formats.render_ms": me.get("sources.formats.render", 0.0),
            "sources.formats.bytes_out_per_stmt": out_bytes / n_stmt if n_stmt else 0.0,
            "sources.mergetree.compact_ms": me.get("sources.mergetree.compact", 0.0),
            "sources.mergetree.write_ms": me.get("sources.mergetree.write", 0.0),
            "sources.mergetree.parts_active": traced["parts"],
            "sources.catalog.load_ms": me.get("sources.catalog.load", 0.0),
            "queries.build_ms": s["incl_ms_per_op"].get("queries.build", 0.0),
            "queries.py4j_calls_per_build": s["py4j_per_build"],
            "queries.eager_jobs_per_build": s["eager_jobs_per_build"],
            "session.start_s": self.detail["session_start_s"],
            "trace.overhead_ratio": wall / (wall - own),
            "trace.unattributed_ratio": s["unattributed_ratio"],
            "trace.unattributed_max": s["unattributed_max"],
            "bench.op_self_ms": me.get(tracing.ROOT, 0.0),
        }
        op_s: dict[str, list[float]] = {}
        for o in TRACER.ops:
            if o["kind"] == "batch":
                op_s.setdefault(o["label"], []).append(o["span"].dur)
        for name in batchwork.OPS:
            v = op_s.get(name)
            m[f"op.{name}_s"] = sum(v) / len(v) if v else 0.0
        if list(m) != list(LAYER_METRICS) + [f"op.{n}_s" for n in batchwork.OPS]:
            raise RuntimeError("per-layer metrics drifted from LAYER_METRICS")
        self.detail["trace"] = {k: v for k, v in s.items() if not isinstance(v, dict)}
        self.detail["trace"]["self_ms_per_op"] = me
        self.detail["trace"]["wall_s"], self.detail["trace"]["own_s"] = wall, own
        self.detail["trace"]["accounting_ok"] = s["unattributed_max"] <= 0.10
        return m


def _repeat_share(warm: list[dict], done: list[dict]) -> float:
    """Share of measured statements whose text ran before."""
    seen, rep = {d["op"]["sql"] for d in warm}, 0
    for d in done:
        rep += d["op"]["sql"] in seen
        seen.add(d["op"]["sql"])
    return rep / max(len(done), 1)


# what --trace 1 prints, in BENCHMARK.json order (plus op.<name>_s per
# batch_jobs builder)
LAYER_METRICS = (
    "dialect.translate_ms", "dialect.engine_self_ms", "dialect.statement_self_ms",
    "dialect.engine_init_s", "dialect.py4j_calls_per_stmt",
    "dialect.rows_rewritten_per_row_inserted", "spark.analyze_ms", "spark.action_ms",
    "spark.jobs_per_op", "spark.tasks_per_op", "spark.executor_run_ms_per_op",
    "spark.executor_cpu_ms_per_op", "spark.shuffle_write_bytes_per_op",
    "spark.spill_bytes_per_op", "spark.input_rows_per_op", "sources.formats.render_ms",
    "sources.formats.bytes_out_per_stmt", "sources.mergetree.compact_ms",
    "sources.mergetree.write_ms", "sources.mergetree.parts_active", "sources.catalog.load_ms",
    "queries.build_ms", "queries.py4j_calls_per_build", "queries.eager_jobs_per_build",
    "session.start_s", "trace.overhead_ratio", "trace.unattributed_ratio",
    "trace.unattributed_max", "bench.op_self_ms",
)
END_TO_END = ("setup_s", "select_p50_ms", "select_tail_ms", "statements_per_s",
              "rows_per_s", "pass_s", "peak_rss_mb")

# units of the per-layer metrics that are not times (names ending in
# _ms or _s)
LAYER_UNITS = {
    "dialect.py4j_calls_per_stmt": "calls/op",
    "dialect.rows_rewritten_per_row_inserted": "rows/row",
    "spark.jobs_per_op": "jobs/op",
    "spark.tasks_per_op": "tasks/op",
    "spark.executor_run_ms_per_op": "ms/op",
    "spark.executor_cpu_ms_per_op": "ms/op",
    "spark.shuffle_write_bytes_per_op": "B/op",
    "spark.spill_bytes_per_op": "B/op",
    "spark.input_rows_per_op": "rows/op",
    "sources.formats.bytes_out_per_stmt": "B/op",
    "sources.mergetree.parts_active": "parts",
    "queries.py4j_calls_per_build": "calls/build",
    "queries.eager_jobs_per_build": "jobs/build",
    "trace.overhead_ratio": "ratio",
    "trace.unattributed_ratio": "ratio",
    "trace.unattributed_max": "ratio",
}


def layer_unit(name: str) -> str:
    if name in LAYER_UNITS:
        return LAYER_UNITS[name]
    return "ms" if name.endswith("_ms") else "s"


class Inputs:
    """Input generation in a child process (``prepare.py``), running
    while the program starts up."""

    def __init__(self, workload: str, seed: int, out: str):
        self.out = out
        self.proc = subprocess.Popen([sys.executable, os.path.join(HERE, "prepare.py"),
                                      "--workload", workload, "--seed", str(seed), "--out", out])

    def result(self) -> dict:
        if self.proc.wait() != 0:
            raise RuntimeError(f"input generation failed ({self.proc.returncode})")
        with open(os.path.join(self.out, "plan.pkl"), "rb") as fh:
            return pickle.load(fh)

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def main() -> int:
    global T_PROCESS
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        log(f"the program package {PKG!r} is not next to {HERE}; nothing to measure")
        return 2

    cpus = host.nproc()
    data = os.path.join(HERE, ".data", f"run_{a.workload}_{a.seed}_{os.getpid()}")
    tmp = os.path.join(data, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(data, "spark-local"),
        # spark-submit's launcher JVM: no perf-data file under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)
    warehouse = os.path.join(ROOT, "spark-warehouse")
    had_warehouse = os.path.exists(warehouse)

    before = host.sentinels()
    # the cold set-up counts from here; input generation overlaps it
    # (its time is reported apart, and the set-up median never takes
    # the cold sample)
    T_PROCESS = time.perf_counter()
    run = Run(a.workload, a.seed, a.seconds, data)
    run.inputs = Inputs(a.workload, a.seed, os.path.join(data, "in"))
    try:
        if a.trace:
            tracing.install()
            TRACER.enabled = True
        run.setup()
        if a.trace:
            TRACER.enabled = False
            sp = [s for s in TRACER.spans if s.op is None]
            run.detail["session_start_s"] = stats.median([s.dur for s in sp if s.name == "session.start"])
            run.detail["engine_init_s"] = stats.median([s.dur for s in sp if s.name == "dialect.engine_init"])
        t_setup = time.perf_counter()
        res = run.run_workload()
        t_work = time.perf_counter()
        layer = run.replay_traced() if a.trace else None
        run.detail["phase_s"] = {"gen": run.plan["gen_s"], "setup": t_setup - T_PROCESS,
                                 "workload": t_work - t_setup,
                                 "replay": time.perf_counter() - t_work}
    finally:
        run.inputs.stop()
        try:
            host.stop_spark()
        finally:
            shutil.rmtree(data, ignore_errors=True)
            for s in run.stores:
                shutil.rmtree(s, ignore_errors=True)
            if not had_warehouse and os.path.isdir(warehouse) and not os.listdir(warehouse):
                os.rmdir(warehouse)
            parent = os.path.dirname(data)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    after = host.sentinels()

    lat = res["read_ms"]
    tail = stats.tail_summary(lat)
    e2e = {
        "setup_s": (run.setup_s, "s"),
        "select_p50_ms": (stats.median(lat), "ms"),
        "select_tail_ms": (tail["value"], "ms"),
        "statements_per_s": (res["ops"] / res["wall"], "1/s"),
        "rows_per_s": (res["rows"] / res["rows_wall"], "1/s"),
        # the mean over the run's rounds: a median of three keeps one
        # round and drops two (IQR/median over ten seeds: 0.19-0.24 for
        # the median, 0.11-0.17 for the mean)
        "pass_s": (sum(res["passes"]) / len(res["passes"]), "s"),
        "peak_rss_mb": (run.rss, "MB"),
    }
    run.detail.update({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "cpus": cpus, "driver_mem": DRIVER_MEM,
        "sentinel_before": before, "sentinel_after": after,
        "select_tail": tail, "passes": len(res["passes"]), "ops": res["ops"],
        "op_fail_ratio": len(run.failures) / max(run.attempted, 1),
        "failures": run.failures[:20],
    })
    if layer is not None:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in END_TO_END}
        run.detail["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    print(json.dumps({"detail": run.detail}, default=str))
    print(json.dumps({"correct": not run.failures, "attempted": run.attempted,
                      "failed": len(run.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
