"""ChEngine — session-bound entry point for the CH SQL dialect.

Analog of the reference's shared query pipeline
(Interpreters/executeQuery.cpp:122 executeQueryImpl): parse + analyze
collapse into ``translate_sql``; plan + execute are Catalyst/Tungsten
via ``spark.sql``.  Tables come from the parquet catalog
(sources.catalog); FINAL/SAMPLE need per-table ``TableMeta``;
dictionaries (Dictionaries/ in the reference) are DataFrames registered
as key-renamed temp views probed via correlated scalar subqueries,
which Catalyst turns into (broadcast) left joins — the distributed
equivalent of the reference's in-RAM dictGet lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sql_udfs import register_sql_udfs
from .translate import DictSpec, TableMeta, translate_sql

# AggregateFunctionFactory's registered base names (grep over
# AggregateFunctions/*.cpp registerFunction calls) — system.functions
# flags these, and any combinator-suffixed form, is_aggregate=1
_AGG_BASE = {
    "any", "anyHeavy", "anyLast", "argMax", "argMin", "avg", "corr",
    "count", "covarPop", "covarSamp", "groupArray", "groupUniqArray",
    "max", "median", "medianDeterministic", "medianExact",
    "medianExactWeighted", "medianTDigest", "medianTDigestWeighted",
    "medianTiming", "medianTimingWeighted", "min", "quantile",
    "quantileDeterministic", "quantileExact", "quantileExactWeighted",
    "quantileTDigest", "quantileTDigestWeighted", "quantileTiming",
    "quantileTimingWeighted", "quantiles", "quantilesDeterministic",
    "quantilesExact", "quantilesExactWeighted", "quantilesTDigest",
    "quantilesTDigestWeighted", "quantilesTiming",
    "quantilesTimingWeighted", "sequenceCount", "sequenceMatch",
    "stddevPop", "stddevSamp", "sum", "uniq", "uniqCombined",
    "uniqCombinedBiasCorrected", "uniqCombinedLinearCounting",
    "uniqCombinedRaw", "uniqExact", "uniqHLL12", "uniqUpTo",
    "varPop", "varSamp", "windowFunnel", "retention", "sumMap", "topK",
}
_AGG_SUFFIXES = ("If", "Array", "ForEach", "State", "Merge")


class ResultLimitError(RuntimeError):
    """max_result_rows / max_result_bytes exceeded in THROW mode
    (IProfilingBlockInputStream::checkLimits, LIMITS_CURRENT —
    ErrorCodes TOO_MUCH_ROWS=158 / TOO_MUCH_BYTES=307)."""


def _executed_scan_totals(df: DataFrame) -> tuple[int, int]:
    """(rows, bytes) the file scans of an EXECUTED DataFrame read —
    summed numOutputRows / filesSize over every scan node of the final
    physical plan (descends through AQE stage wrappers).  The quota
    layer's read-accounting source (IProfilingBlockInputStream.cpp:305
    reads the same numbers off the stream's progress callback).
    Best-effort: returns (0, 0) on any introspection failure."""
    rows = nbytes = 0

    def walk(jplan) -> None:
        nonlocal rows, nbytes
        name = jplan.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(jplan.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(jplan.plan())
            return
        if "FileSourceScan" in name or name == "BatchScanExec":
            it = jplan.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    rows += kv._2().value()
                elif kv._1() == "filesSize":
                    nbytes += kv._2().value()
            return
        ch = jplan.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    try:
        walk(df._jdf.queryExecution().executedPlan())
    except Exception:
        return (0, 0)
    return (int(rows), int(nbytes))


def _is_aggregate_fn(name: str) -> bool:
    """AggregateFunctionFactory::isAggregateFunctionName — the base
    name, or any combinator-suffixed form of it, is an aggregate."""
    while True:
        if name in _AGG_BASE:
            return True
        for suf in _AGG_SUFFIXES:
            if name.endswith(suf) and len(name) > len(suf):
                name = name[: -len(suf)]
                break
        else:
            return False

__all__ = ["ChEngine", "TableMeta"]


class ChEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.table_meta: dict[str, TableMeta] = {}
        self.dictionaries: dict[str, DictSpec] = {}
        # tables created through CREATE TABLE (dialect/statements.py):
        # dotted CH name → TableDef, and its dot-free temp-view twin
        self.tables: dict[str, object] = {}
        self.table_views: dict[str, str] = {}
        # CREATE/DROP DATABASE bookkeeping + USE target
        self.databases: set[str] = set()
        self.current_db: str | None = None
        # DETACH'd tables awaiting ATTACH
        self.detached: dict[str, object] = {}
        # Buffer tables → destination table name (StorageBuffer,
        # modeled as immediate flush: inserts redirect, reads alias)
        self.buffers: dict[str, str] = {}
        # last executed SELECT had a top-level WITH TOTALS (formatters
        # render the totals row as a separate block)
        self.last_totals = False
        # last executed SELECT wants the extremes block (SETTINGS
        # extremes = 1, per-query or via session SET)
        self.last_extremes = False
        # session-level SET name = value pairs (Settings.h); most are
        # advisory, but extremes/totals_mode change output semantics
        self.session_settings: dict[str, str] = {}
        # trailing FORMAT clause of the last statement + its effective
        # settings (session SET merged with per-query SETTINGS) — the
        # client-side writer (sources/formats.py) reads both
        self.last_format: str | None = None
        self.last_settings: dict[str, str] = {}
        # inferred CH type per output column of the last translated
        # SELECT (positional; None = not inferable / star expansion)
        self.last_out_ch_types: list | None = None
        # CH-rendered output column names (alias / canonical call text)
        self.last_out_ch_names: list | None = None
        # SQL counting the pre-LIMIT rows of the last SELECT (JSON's
        # rows_before_limit_at_least); None = no top-level LIMIT
        self.last_pre_limit_sql: str | None = None
        self.last_limit_block_rows: int | None = None
        # keyless WITH TOTALS: output positions rendered as defaults
        self.last_totals_default_cols: list | None = None
        # constant output columns (extremes render the value itself)
        self.last_out_const_cols: list | None = None
        # in-flight query registry: KILL QUERY + max_execution_time
        # (Interpreters/ProcessList.h; see dialect/process_list.py)
        from .process_list import ProcessList

        self.process_list = ProcessList(spark)
        # per-THREAD last query id: auto-retire is sequential within a
        # thread, so a KILL issued from another thread never retires
        # the entry it is about to match
        self._qid_local = __import__("threading").local()
        # per-user usage quotas (Interpreters/Quota.h; users.xml's
        # <quotas> section -> Quotas.configure, Context::setUser ->
        # set_user).  current_quota is the active user's counter set;
        # None = unlimited (no quota assigned).
        from .quota import Quotas

        self.quotas = Quotas()
        self.current_user = "default"
        self.current_quota = None
        # quota each in-flight query accounts against (execution time
        # is added at retire, which may happen under a later statement)
        self._quota_by_qid: dict[str, object] = {}
        # ProfileEvents analog (Common/ProfileEvents.cpp: Query /
        # SelectQuery / InsertQuery) — system.events renders the
        # nonzero counters
        self.events: dict[str, int] = {
            "Query": 0, "SelectQuery": 0, "InsertQuery": 0,
        }
        # SQL-UDF-backed dialect functions (IPv6 codecs) — the
        # translator passes their calls through by name
        register_sql_udfs(spark)
        # Arrow-batched exact-hash UDFs (cityHash64/sipHash64 string
        # paths — dialect/hash_sql.py)
        from .hash_sql import register_hash_udfs

        register_hash_udfs(spark)
        # bit-exact ReservoirSampler quantiles (taus88 replay) —
        # Arrow-batched over aggregation groups
        from .reservoir import register as register_reservoir

        register_reservoir(spark)
        # convertCharset (ICU charsets incl. BOCU-1/SCSU) — Arrow UDF
        from ..functions.charset import register as register_charset

        register_charset(spark)

    # -------------------------------------------------------- catalog

    def register_table(
        self, name: str, df: DataFrame, meta: TableMeta | None = None
    ) -> None:
        df.createOrReplaceTempView(name)
        if meta is not None:
            self.table_meta[name] = meta

    def set_meta(self, name: str, meta: TableMeta) -> None:
        self.table_meta[name] = meta

    def register_dictionary(
        self, name: str, df: DataFrame, key: str, parent: str | None = None
    ) -> None:
        """Register a dictionary (reference: external dictionaries,
        Dictionaries/ dir; flat/hashed layouts).  ``key`` is the lookup
        column; remaining columns are the gettable attributes.

        ``parent`` marks a HIERARCHICAL layout (DictionaryStructure
        ``hierarchical`` attribute): the ancestor closure is computed
        once here — hierarchy dictionaries are RAM-resident smalls in
        the reference too (RegionsHierarchy) — and embedded as a map
        literal so dictGetHierarchy/dictIsIn probes stay JVM-side."""
        view = f"__dict_{name}"
        attrs = tuple(c for c in df.columns if c != key)
        df.withColumnRenamed(key, "__k").createOrReplaceTempView(view)
        hier = None
        if parent is not None:
            rows = df.select(key, parent).collect()
            pmap = {r[0]: r[1] for r in rows}
            chains: dict[int, list[int]] = {}
            for node in pmap:
                chain = [node]
                cur = pmap.get(node)
                while cur is not None and cur != 0 and cur not in chain \
                        and len(chain) < 64:
                    chain.append(cur)
                    cur = pmap.get(cur)
                chains[node] = chain
            ks = ", ".join(f"CAST({k} AS BIGINT)" for k in chains)
            vs = ", ".join(
                "array(" + ", ".join(f"CAST({v} AS BIGINT)" for v in ch) + ")"
                for ch in chains.values()
            )
            hier = f"map_from_arrays(array({ks}), array({vs}))"
        self.dictionaries[name] = DictSpec(view=view, attrs=attrs, hier=hier)

    # -------------------------------------------------------- querying

    def translate(self, ch_sql: str) -> str:
        self._refresh_views(ch_sql)
        # output formats render the totals row as a separate block; a
        # top-level (not subquery) WITH TOTALS sets the flag the
        # formatter reads (TabSeparatedBlockOutputStream writeTotals)
        self.last_totals = self._toplevel_totals(ch_sql)
        self.last_extremes = self._wants_extremes(ch_sql)
        capture: dict = {}
        out = translate_sql(
            ch_sql,
            table_meta=self.table_meta,
            columns_of=self._columns_of,
            dictionaries=self.dictionaries,
            table_views=self.table_views,
            system_sql=self._system_sql,
            default_db=self.current_db,
            tabledef_of=self._tabledef_by_view,
            agg_fn_of=self._agg_fn_of,
            schema_of_sql=self._schema_of_sql,
            capture=capture,
            session_settings=self.session_settings,
        )
        self.last_out_ch_types = capture.get("out_ch_types")
        self.last_out_ch_names = capture.get("out_ch_names")
        self.last_pre_limit_sql = capture.get("pre_limit_sql")
        self.last_limit_block_rows = capture.get("limit_block_rows")
        self.last_totals_default_cols = capture.get("totals_default_cols")
        self.last_out_const_cols = capture.get("out_const_cols")
        self.last_union_branches = capture.get("union_branch_sqls")
        if capture.get("passthrough_totals"):
            # a top-level SELECT over a WITH TOTALS subquery forwards
            # the (inline, last-ordered) totals row as its totals block
            self.last_totals = True
        return out

    def union_block_rows(self) -> list | None:
        """Per-branch row counts of the last top-level UNION ALL — the
        output formats' block boundaries (each branch is a block)."""
        if not getattr(self, "last_union_branches", None):
            return None
        try:
            return [
                self.spark.sql(b).count() for b in self.last_union_branches
            ]
        except Exception:
            return None

    def rows_before_limit(self) -> int | None:
        """Pre-LIMIT row count of the last SELECT (JSON/XML formats'
        rows_before_limit_at_least) — runs the captured unlimited query;
        display-format-only, same client-side cost profile as Pretty."""
        if self.last_pre_limit_sql is None:
            return None
        try:
            n = self.spark.sql(self.last_pre_limit_sql).count()
        except Exception:
            return None
        if self.last_limit_block_rows is not None:
            # plain streaming limit reads blocks of limit+offset rows
            n = min(n, self.last_limit_block_rows)
        return n

    def _wants_extremes(self, ch_sql: str) -> bool:
        """True when this SELECT should emit the extremes block: a
        per-query ``SETTINGS ... extremes = 1`` overrides the session
        ``SET extremes`` value (Settings.h)."""
        import re as _re

        m = _re.search(r"\bSETTINGS\b.*?\bextremes\s*=\s*(\d+)", ch_sql,
                       _re.I | _re.S)
        if m:
            return m.group(1) != "0"
        return self.session_settings.get("extremes", "0") not in ("0", "")

    @staticmethod
    def _toplevel_totals(ch_sql: str) -> bool:
        """True when WITH TOTALS appears at paren depth 0 (a subquery's
        totals are swallowed by the surrounding query, never output)."""
        depth = 0
        up = ch_sql.upper()
        i = 0
        while i < len(up):
            ch = up[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and up.startswith("WITH", i):
                rest = up[i + 4 :].lstrip()
                if rest.startswith("TOTALS"):
                    return True
            i += 1
        return False

    def _refresh_views(self, ch_sql: str) -> None:
        """Re-register every plain View referenced by ``ch_sql`` from
        its stored SELECT text, so reads see base-table mutations
        (StorageView re-executes the stored query on every read — a
        snapshot DataFrame would silently serve pre-INSERT rows).
        A substring probe over-approximates "referenced" — a spurious
        refresh only re-runs analysis, no job executes."""
        refreshing = self.__dict__.setdefault("_views_in_refresh", set())
        for name, tdef in list(self.tables.items()):
            if tdef.view_sql is None or name in refreshing:
                continue
            last = name.rsplit(".", 1)[-1]
            if name not in ch_sql and last not in ch_sql:
                continue
            refreshing.add(name)
            try:
                df = self.spark.sql(self.translate(tdef.view_sql))
                df.createOrReplaceTempView(self.table_views[name])
                tdef.raw = df
            finally:
                refreshing.discard(name)

    def _schema_of_sql(self, from_sql: str):
        """Analyzed (name, simple type) pairs of a FROM-able fragment —
        analysis only, nothing executes."""
        for suffix in (" __schema_probe", ""):
            try:
                df = self.spark.sql(f"SELECT * FROM {from_sql}{suffix}")
                return [
                    (f.name, f.dataType.simpleString())
                    for f in df.schema.fields
                ]
            except Exception:
                continue
        return None

    def _tabledef_by_view(self, view: str):
        for name, v in self.table_views.items():
            if v == view:
                return self.tables.get(name)
        return self.tables.get(view)

    def _agg_fn_of(self, col: str, table_view: str | None = None) -> str | None:
        """Aggregate fn behind a stored AggregateFunction column
        (finalizeAggregation dispatch).  Scoped to the table the query
        actually reads when the translator supplies its FROM view;
        otherwise a global scan that ERRORS on ambiguity (two tables
        declaring same-named AggregateFunction columns with different
        functions) instead of silently picking the first."""
        import re as _re

        def fn_in(tdef) -> str | None:
            for c in tdef.columns:
                if c.name == col:
                    m = _re.match(r"AggregateFunction\((\w+)", c.ch_type or "")
                    if m:
                        return m.group(1)
            return None

        if table_view is not None:
            tdef = self._tabledef_by_view(table_view)
            if tdef is not None:
                fn = fn_in(tdef)
                if fn is not None:
                    return fn
        found = {fn for t in self.tables.values() if (fn := fn_in(t)) is not None}
        if len(found) > 1:
            raise ValueError(
                f"ambiguous AggregateFunction column {col!r}: declared with "
                f"{sorted(found)} in different tables — qualify the query's "
                "FROM table"
            )
        return next(iter(found), None)

    def _count_query_event(self, ch_sql: str) -> None:
        """ProfileEvents: Query always; the statement kind adds its
        own (executeQuery.cpp / InterpreterSelect|InsertQuery)."""
        self.events["Query"] += 1
        head = (
            ch_sql.lstrip().split(None, 1)[0].upper()
            if ch_sql.strip() else ""
        )
        if head in ("SELECT", "WITH"):
            self.events["SelectQuery"] += 1
        elif head == "INSERT":
            self.events["InsertQuery"] += 1

    def sql(self, ch_sql: str) -> DataFrame:
        self._count_query_event(ch_sql)
        return self.spark.sql(self.translate(ch_sql))

    def execute(
        self, ch_sql: str, query_id: str | None = None
    ) -> DataFrame | None:
        """Full statement surface: SELECT returns a DataFrame;
        CREATE TABLE / INSERT / DROP / SET return None
        (Interpreters/InterpreterFactory.cpp dispatch).

        Every statement registers in the process list under a job
        group (``query_id`` names it for KILL QUERY), and
        ``SETTINGS max_execution_time = N`` arms a watchdog that
        cancels the group at the deadline — the binding is
        thread-local and outlives this call, so a SELECT the client
        collects lazily is still covered.  The previous statement's
        entry is retired when the next one begins (single-session
        model; ``finish_query`` retires it explicitly)."""
        import re as _re

        from .statements import execute_statement

        self.last_totals = False  # set again by translate() for SELECTs
        # requested output format (trailing FORMAT clause — the writer
        # is a client concern, FormatFactory.cpp) and the effective
        # settings for it (session SET overridden by per-query SETTINGS)
        m = _re.search(r"\bFORMAT\s+([A-Za-z0-9]+)\s*;?\s*$", ch_sql)
        self.last_format = m.group(1) if m else None
        self.last_settings = dict(self.session_settings)
        self.last_settings.update(self._query_settings(ch_sql))
        prev = getattr(self._qid_local, "qid", None)
        if prev is not None:
            self._retire(prev, account=False)
        met = self.last_settings.get("max_execution_time")
        try:
            met_s = float(met) if met is not None else None
        except ValueError:
            met_s = None
        qid = self.process_list.begin(
            ch_sql, query_id=query_id, max_execution_time=met_s,
            user=self.current_user,
        )
        self._qid_local.qid = qid
        quota = self.current_quota
        if quota is not None:
            self._quota_by_qid[qid] = quota
        self._running_query = ch_sql  # surfaced by system.processes
        self._count_query_event(ch_sql)
        try:
            # admission gate (executeQuery.cpp:174-177): count this
            # query, then refuse if any interval's limit is exceeded
            if quota is not None:
                quota.add_query()
                quota.check_exceeded()
            return execute_statement(self, ch_sql)
        except Exception:
            # failed queries count against the errors limit
            # (executeQuery.cpp:95,298 onException paths)
            if quota is not None:
                quota.add_error()
            # an eagerly-executed statement that blew the deadline
            # surfaces as the reference's TIMEOUT_EXCEEDED error class
            self.process_list.check(qid)
            raise
        finally:
            self._running_query = ""

    def finish_query(self, query_id: str | None = None) -> None:
        """Retire a query's process-list entry (disarms its
        max_execution_time watchdog).  Default: this thread's last
        statement."""
        qid = query_id or getattr(self._qid_local, "qid", None)
        if qid is not None:
            self._retire(qid)
            if qid == getattr(self._qid_local, "qid", None):
                self._qid_local.qid = None

    def _retire(self, qid: str, account: bool = True) -> None:
        """Retire a process-list entry; with ``account``, charge its
        begin->retire wall-clock to the owning quota
        (IProfilingBlockInputStream.cpp:213 accounts execution time as
        the stream drains — enforcement happens at the next query's
        admission check).  The AUTO-retire from the next statement
        passes account=False: a lazily-built, never-collected query
        did ~no work, and begin->next-statement elapsed would charge
        the user's inter-statement think-time as execution time.
        Explicit retires (finish_query — which Engine.collect calls
        right after materializing) span the actual execution."""
        import time as _time

        entry = self.process_list.finish(qid)
        quota = self._quota_by_qid.pop(qid, None)
        if account and entry is not None and quota is not None:
            quota.add_execution_time(_time.monotonic() - entry["start"])

    def set_user(self, name: str, quota: str | None = None,
                 quota_key: str = "") -> None:
        """Context::setUser/setQuota — switch the session's user and
        select the quota template its statements account against
        (``quota=None`` detaches any quota: unlimited)."""
        self.current_user = name
        self.current_quota = (
            self.quotas.get(quota, name, quota_key)
            if quota is not None else None
        )

    def collect(self, ch_sql: str, query_id: str | None = None) -> list:
        """Execute + materialize: the engine-side funnel that also
        accounts result rows/bytes against the active quota — the
        analog of the reference's stream-layer accounting
        (IProfilingBlockInputStream.cpp:212 counts each block's rows
        and bytes as it flows to the client, re-checking limits).
        Bytes are the TabSeparated rendering length (a deterministic
        stand-in for the reference's in-memory block bytes).  DDL/DML
        statements return None; SELECTs return collected Rows."""
        df = self.execute(ch_sql, query_id=query_id)
        if df is None:
            self.finish_query()
            return None
        qid = getattr(self._qid_local, "qid", None)
        try:
            rows = df.collect()
        except Exception:
            if self.current_quota is not None:
                self.current_quota.add_error()
            # a watchdog-cancelled lazy collect surfaces as the
            # reference's TIMEOUT_EXCEEDED class, same as the eager
            # execute() path
            if qid is not None:
                self.process_list.check(qid)
            raise
        finally:
            self.finish_query()
        # per-row TabSeparated byte lengths, computed ONCE and shared
        # by the max_result_bytes limit and quota result accounting
        from ..sources.formats import _tsv_cell

        def _row_tsv_len(row) -> int:
            return len(
                ("\t".join(_tsv_cell(v) for v in row) + "\n").encode(
                    "utf-8", "surrogatepass"
                )
            )

        row_lens = [_row_tsv_len(r) for r in rows]
        # max_result_rows / max_result_bytes — the output-stream
        # limits (Limits.h; checked by the delivering stream in the
        # reference).  Zero means unlimited, as everywhere in
        # Limits.h.  THROW is the default overflow mode; BREAK
        # truncates — the reference cuts at a block boundary (result
        # may slightly exceed the cap), we cut at the exact row for
        # determinism.
        cap = self.last_settings.get("max_result_rows")
        if cap and str(cap).isdigit() and int(cap) > 0 \
                and len(rows) > int(cap):
            if self.last_settings.get("result_overflow_mode") == "break":
                rows, row_lens = rows[: int(cap)], row_lens[: int(cap)]
            else:
                if self.current_quota is not None:
                    self.current_quota.add_error()
                raise ResultLimitError(
                    f"Limit for result rows exceeded: read {len(rows)} "
                    f"rows, maximum: {int(cap)} "
                    f"(code 158, TOO_MUCH_ROWS)"
                )
        bcap = self.last_settings.get("max_result_bytes")
        if bcap and str(bcap).isdigit() and int(bcap) > 0:
            total = 0
            for i, rlen in enumerate(row_lens):
                total += rlen
                if total > int(bcap):
                    if self.last_settings.get(
                        "result_overflow_mode"
                    ) == "break":
                        rows, row_lens = rows[:i], row_lens[:i]
                        break
                    if self.current_quota is not None:
                        self.current_quota.add_error()
                    raise ResultLimitError(
                        f"Limit for result bytes (uncompressed) "
                        f"exceeded: read {total} bytes, maximum: "
                        f"{int(bcap)} (code 307, TOO_MUCH_BYTES)"
                    )
        if self.current_quota is not None:
            # read-side accounting first (the stream layer checks
            # read limits as blocks arrive, before result delivery):
            # scan-node metrics from the executed plan — numOutputRows
            # is the rows the scans produced (CH read_rows), filesSize
            # the compressed bytes of the files they read (CH counts
            # uncompressed read_bytes; compressed is our disk-true
            # analog).  Metric extraction must never break a query.
            rrows, rbytes = _executed_scan_totals(df)
            if rrows or rbytes:
                self.current_quota.check_and_add_read(rrows, rbytes)
            self.current_quota.check_and_add_result(
                len(rows), sum(row_lens)
            )
        return rows

    # ---------------------------------------------- binary ingest
    # The input direction of the wire formats (FormatFactory.cpp
    # registers Native and RowBinary both ways; the output direction
    # lives in sources/formats.py).  A CH-migration user replays a
    # dump with: eng.insert_native("t", open("dump.native","rb").read())

    def _resolve_table(self, table: str):
        for cand in (
            f"{self.current_db}.{table}" if getattr(self, "current_db", None) else None,
            table,
            f"default.{table}",
        ):
            if cand and cand in self.tables:
                return cand, self.tables[cand]
        raise ValueError(f"unknown table {table!r}")

    def _ingest_rows(
        self,
        table: str,
        col_names: list[str],
        types: list[str],
        columns: list,
        block_rows: list[int] | None = None,
    ) -> None:
        """Insert one client-side block: the Native, RowBinary and
        Values input formats all end here.  Each column is a list of
        Python values or an Arrow array of its Spark ``types`` entry;
        the block goes to Spark as one Arrow-built partition, because
        its row order is semantic (first-seen DISTINCT ids, golden
        00326).  ``block_rows`` are the payload's own blocks (one block
        when None)."""
        from ..sources.formats import arrow_frame
        from .statements import _ingest_df

        name, tdef = self._resolve_table(table)
        insertable = [c.name for c in tdef.columns if not c.is_virtual]
        # Native blocks carry names: match by name when they all
        # resolve (InterpreterInsertQuery header conversion), else
        # positionally against the insert block
        if col_names and all(c in insertable for c in col_names):
            subset = list(col_names)
        else:
            subset = insertable[: len(types)]
        df = arrow_frame(self.spark, subset, types, columns).coalesce(1)
        n = len(columns[0]) if columns else 0
        _ingest_df(self, name, tdef, subset, df, list(block_rows or [n]))

    def insert_native(self, table: str, payload: bytes) -> None:
        """INSERT ... FORMAT Native: the payload's own header supplies
        names and CH types; per-block structure is preserved
        (NativeBlockInputStream::readImpl)."""
        from ..sources.formats import parse_native, wire_columns

        names, ch_types, rows, blocks = parse_native(payload, with_blocks=True)
        self._ingest_rows(table, names, *wire_columns(ch_types, rows), blocks)

    def insert_rowbinary(
        self, table: str, payload: bytes, columns: list[str] | None = None
    ) -> None:
        """INSERT ... FORMAT RowBinary: schema-less row-major values
        decoded by the target table's insert-block types
        (RowBinaryRowInputStream.cpp)."""
        from ..sources.formats import parse_rowbinary, wire_columns

        _name, tdef = self._resolve_table(table)
        insertable = {
            c.name: c for c in tdef.columns if not c.is_virtual
        }
        cols = columns or list(insertable)
        ch_types = [
            insertable[c].ch_type or "String" for c in cols
        ]
        rows = parse_rowbinary(payload, ch_types)
        self._ingest_rows(table, cols, *wire_columns(ch_types, rows))

    def read_native(self, src: bytes | str) -> DataFrame:
        """A FORMAT Native dump (bytes, or a path to one) as a
        DataFrame — schema comes from the stream itself."""
        from ..sources.formats import arrow_frame, parse_native, wire_columns

        data = src if isinstance(src, (bytes, bytearray)) else open(src, "rb").read()
        names, ch_types, rows = parse_native(bytes(data))
        return arrow_frame(self.spark, names, *wire_columns(ch_types, rows))

    def insert_native_path(
        self, table: str, src: str, split_blocks: bool = False
    ) -> None:
        """INSERT ... FORMAT Native from a dump FILE or DIRECTORY,
        decoded executor-side (``read_native_dist``) — the scale path
        of ``insert_native``: dump bytes never pass through the
        driver, while the insert still runs the full ``_ingest_df``
        pipeline (projection, defaults, Replicated dedup, MV fan-out).
        Per-wire-block structure is not replayed (blocks decode
        distributed): like INSERT SELECT, the stream is cut into
        max_block_size blocks."""
        from ..sources.native_dist import read_native_dist
        from .statements import _ingest_df

        name, tdef = self._resolve_table(table)
        df = read_native_dist(self.spark, src, split_blocks=split_blocks)
        insertable = [c.name for c in tdef.columns if not c.is_virtual]
        cols = list(df.columns)
        if all(c in insertable for c in cols):
            subset = cols
        else:
            subset = insertable[: len(cols)]
            df = df.toDF(*subset)
        _ingest_df(self, name, tdef, subset, df)

    def read_native_dir(
        self, src: str, split_blocks: bool = False, lineage: bool = False
    ) -> DataFrame:
        """Distributed twin of ``read_native`` for real dump replay: a
        FORMAT Native file or directory decoded EXECUTOR-side
        (binaryFile + Arrow mapInPandas; ``split_blocks`` adds
        block-level spans for one giant file) — the driver reads only
        the first block for schema.  See sources/native_dist.py."""
        from ..sources.native_dist import read_native_dist

        return read_native_dist(
            self.spark, src, split_blocks=split_blocks, lineage=lineage
        )

    @staticmethod
    def _query_settings(ch_sql: str) -> dict[str, str]:
        """name=value pairs of the statement's SETTINGS clause."""
        import re as _re

        m = _re.search(r"\bSETTINGS\b(.*?)(?:\bFORMAT\b|$)", ch_sql,
                       _re.I | _re.S)
        if not m:
            return {}
        return {
            k: v.strip("'")
            for k, v in _re.findall(
                r"([A-Za-z_][A-Za-z0-9_]*)\s*=\s*('[^']*'|[\w.]+)",
                m.group(1),
            )
        }

    def _columns_of(self, table: str) -> list[str] | None:
        # created tables: declared columns (incl. Nested members and
        # ALIAS/MATERIALIZED — hasColumnInTable sees the definition)
        tdef = self.tables.get(table)
        if tdef is not None:
            cols = [c.name for c in tdef.columns]
            # MergeTree-family reads publish the _part virtual column
            # (MergeTreeBlockInputStream); translate's `*`-visibility
            # gate keys off its presence here, so surface it for the
            # whole family (it is hidden from `*` downstream).
            if tdef.engine.endswith("MergeTree"):
                cols.append("_part")
            return cols
        view = self.table_views.get(table)
        try:
            return self.spark.table(view or table).columns
        except Exception:
            return None

    # ---------------------------------------------- system.* tables

    def _catalog_tables(self) -> list[tuple[str, str, str]]:
        """(database, table, engine) rows — created tables plus the
        directly-registered default-database views (the reference's
        StorageSystemTables reads the Context database map)."""
        rows = []
        for name, tdef in self.tables.items():
            db, _, t = name.rpartition(".")
            rows.append((db or "default", t, tdef.engine))
        dotted_twins = {v for k, v in self.table_views.items() if "." in k}
        for t in self.spark.catalog.listTables():
            if t.name.startswith("__") or t.name in dotted_twins:
                continue
            if any(r[0] == "default" and r[1] == t.name for r in rows):
                continue
            rows.append(("default", t.name, "MergeTree"))
        return sorted(rows)

    def _system_sql(self, which: str) -> str | None:
        """Inline SQL for system.<which> (Storages/System/ in the
        reference: Tables, Columns, Databases, Settings...), built from
        the engine catalog at translate time."""

        def q(s: str) -> str:
            return "'" + s.replace("'", "''") + "'"

        def values(rows: list[tuple], cols: str) -> str:
            if not rows:
                tup = ", ".join(["''"] * len(cols.split(",")))
                return (
                    f"SELECT * FROM (VALUES ({tup})) AS __t({cols}) WHERE 1 = 0"
                )
            body = ", ".join(
                "("
                + ", ".join(
                    str(v) if isinstance(v, int) else q(str(v)) for v in r
                )
                + ")"
                for r in rows
            )
            return f"SELECT * FROM (VALUES {body}) AS __t({cols})"

        if which == "tables":
            return values(self._catalog_tables(), "database, name, engine")
        if which == "databases":
            dbs = sorted({"default", "system", *self.databases})
            return values([(d,) for d in dbs], "name")
        if which == "columns":
            from .statements import _tabledef_of

            rows = []
            for db, t, _eng in self._catalog_tables():
                name = t if db == "default" else f"{db}.{t}"
                try:
                    tdef = _tabledef_of(self, name)
                except Exception:
                    continue
                for c in tdef.columns:
                    rows.append((db, t, c.name, c.ch_type or c.spark_type, "", ""))
            return values(
                rows,
                "database, table, name, type, default_type, default_expression",
            )
        if which == "settings":
            # the handful of settings the dialect honors (Settings.h
            # defaults); changed=0 — per-query SETTINGS never lands here
            rows = [
                ("totals_mode", "after_having_exclusive", "0"),
                ("max_threads", str(self.spark.sparkContext.defaultParallelism), "0"),
                ("max_block_size", "65536", "0"),
            ]
            return values(rows, "name, value, changed")
        if which == "parts":
            # Storages/System/StorageSystemParts.cpp:20-41 — one row per
            # active data part of every created MergeTree table, from
            # the per-INSERT part bookkeeping in statements.py
            rows = []
            for name, tdef in sorted(self.tables.items()):
                db, _, t = name.rpartition(".")
                for p in getattr(tdef, "parts", ()):
                    rows.append(
                        (
                            p["partition"], p["name"], int(p["active"]),
                            int(p["marks"]), int(p["rows"]), int(p["bytes"]),
                            p["min_date"], p["max_date"],
                            int(p["min_block"]), int(p["max_block"]),
                            int(p["level"]), db or "default", t, tdef.engine,
                        )
                    )
            return values(
                rows,
                "partition, name, active, marks, rows, bytes, min_date, "
                "max_date, min_block_number, max_block_number, level, "
                "database, table, engine",
            )
        if which == "processes":
            # StorageSystemProcesses.cpp core columns.  Row 1 is the
            # query being translated (query_id/elapsed pinned for
            # output determinism — golden parity); concurrent
            # in-flight queries from OTHER threads follow from the
            # process list with their real ids/elapsed.
            qtext = getattr(self, "_running_query", "") or ""
            cur_qid = getattr(self._qid_local, "qid", None)
            rows = [("1", "default", "", "0", qtext)]
            for e in self.process_list.running():
                if e["query_id"] != cur_qid and e["status"] == "Running":
                    rows.append(
                        ("1", e["user"], e["query_id"],
                         f"{e['elapsed']:.3f}", e["query"])
                    )
            return values(
                rows,
                "is_initial_query, user, query_id, elapsed, query",
            )
        if which == "functions":
            # StorageSystemFunctions.cpp: (name, is_aggregate) — one
            # row per registered function; aggregates flagged 1.  The
            # dialect's registry is the SIMPLE/TEMPLATES/PARAMETRIC
            # translator maps.
            from .functions_map import PARAMETRIC, SIMPLE, TEMPLATES

            # identity-passthrough aggregates (sum/min/max/...) have no
            # translator entry; the factory's base-name set completes
            # them.  Combinator forms (sumIf, uniqExactState) are not
            # listed — the reference's factory applies combinators
            # dynamically too, they are not registry rows.
            names = sorted(
                set(SIMPLE) | set(TEMPLATES) | set(PARAMETRIC) | _AGG_BASE
            )
            rows = [(n, int(_is_aggregate_fn(n))) for n in names]
            return values(rows, "name, is_aggregate")
        if which == "events":
            # StorageSystemEvents.cpp renders only nonzero counters
            rows = [(k, v) for k, v in sorted(self.events.items()) if v]
            return values(rows, "event, value")
        if which == "metrics":
            # StorageSystemMetrics.cpp — current gauges; Query is the
            # number of executing queries (CurrentMetrics::Query),
            # Merge is 0: our OPTIMIZE merges run synchronously inside
            # the statement, so none is ever in flight at read time
            rows = [
                ("Merge", 0),
                # EXECUTING queries only — Killed/TimedOut entries
                # linger until their owning thread retires them and
                # must not inflate the gauge
                (
                    "Query",
                    sum(
                        1
                        for e in self.process_list.running()
                        if e["status"] == "Running"
                    ),
                ),
            ]
            return values(rows, "metric, value")
        if which == "dictionaries":
            # StorageSystemDictionaries.cpp core columns; attribute
            # arrays are rendered as comma-joined text (the engine's
            # VALUES builder is string/int-typed)
            rows = []
            for name, spec in sorted(self.dictionaries.items()):
                try:
                    sch = self.spark.table(spec.view).schema
                    types = {f.name: f.dataType.simpleString() for f in sch}
                    n = self.spark.table(spec.view).count()
                except Exception:
                    types, n = {}, 0
                rows.append(
                    (
                        name, "",
                        "Hierarchical" if spec.hier is not None else "Flat",
                        "UInt64",
                        ",".join(spec.attrs),
                        ",".join(types.get(a, "") for a in spec.attrs),
                        int(n),
                    )
                )
            return values(
                rows,
                "name, origin, type, key, `attribute.names`, "
                "`attribute.types`, element_count",
            )
        if which == "merges":
            # StorageSystemMerges.cpp schema; always empty here — our
            # OPTIMIZE rewrites run synchronously inside the statement,
            # so no merge is ever observable in flight
            return values(
                [],
                "database, table, elapsed, progress, num_parts, "
                "source_part_names, result_part_name, "
                "total_size_bytes_compressed, total_size_marks, "
                "bytes_read_uncompressed, rows_read, "
                "bytes_written_uncompressed, rows_written, "
                "columns_written, memory_usage, thread_number",
            )
        if which == "clusters":
            # StorageSystemClusters.cpp schema; empty — shard tables
            # are ad-hoc frames (sources/engines.py remote()/merge()),
            # there is no named-cluster config in a Spark session
            return values(
                [],
                "cluster, shard_num, shard_weight, replica_num, "
                "host_name, host_address, port, is_local, user, "
                "default_database",
            )
        if which == "build_options":
            # StorageSystemBuildOptions.cpp: (name, value) pairs —
            # honest analogs of the build-time constants
            import platform

            import pyspark

            rows = [
                ("PYSPARK_VERSION", pyspark.__version__),
                ("PYTHON_VERSION", platform.python_version()),
                ("SYSTEM", platform.system()),
            ]
            return values(rows, "name, value")
        return None
