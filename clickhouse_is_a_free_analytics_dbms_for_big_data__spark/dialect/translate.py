"""CH SQL → Spark SQL translator.

Grammar source: /root/reference/dbms/src/Parsers/ParserSelectQuery.cpp
(clause order: WITH, SELECT [DISTINCT], FROM [FINAL] [SAMPLE],
[LEFT] ARRAY JOIN, [GLOBAL] [ANY|ALL] <kind> JOIN, PREWHERE, WHERE,
GROUP BY [WITH TOTALS], HAVING, ORDER BY, LIMIT [BY], SETTINGS,
FORMAT, UNION ALL chaining via ASTSelectQuery.h:78).

Expression-level rewrites (ExpressionListParsers.cpp operator surface):

- ``[a, b]`` array literals → ``array(a, b)``; ``x[i]`` indexing →
  ``element_at(x, i)`` (1-based, negative-from-end — matches the
  reference's arrayElement up to out-of-range → NULL vs type-default).
- ``c ? a : b`` ternary → ``if(c, a, b)``.
- function-name mapping per ``functions_map`` (incl. parametric
  ``quantile(0.9)(x)`` syntax and the -If combinator).
- lambda syntax ``x -> expr`` is shared by both dialects — passthrough.

Clause rewrites:

- PREWHERE → conjunct of WHERE (scan pushdown is Catalyst's job).
- SAMPLE k [OFFSET m] → deterministic hash-range predicate over the
  table's registered sampling key (mirrors operators.clauses.
  deterministic_sample; MergeTreeDataSelectExecutor.cpp:253-270).
- FINAL → ReplacingMergeTree latest-version dedup subquery.
- ARRAY JOIN / LEFT ARRAY JOIN / arrayJoin() → LATERAL VIEW
  posexplode[_outer]; extra lockstep arrays via element_at at the
  shared position (IColumn::replicate semantics).
- ANY JOIN → right side deduped to one row per key; GLOBAL → BROADCAST
  hint (ExpressionAnalyzer.cpp:433-574 external-table shipping).
- GROUP BY ... WITH TOTALS → GROUPING SETS ((keys), ()).  With HAVING,
  the default totals_mode = AFTER_HAVING_EXCLUSIVE (Settings.h:92):
  input rows are first semi-filtered to the groups passing HAVING, so
  the totals row covers only surviving groups; SETTINGS
  totals_mode='before_having' keeps totals over all rows with HAVING
  filtering group rows only (TotalsHavingBlockInputStream.h).
- LIMIT n BY cols → row_number window subquery.
- system.numbers / numbers(N) / system.one → range()/one-row inline.
"""

from __future__ import annotations

import re

from dataclasses import dataclass, field

from .functions_map import (
    PARAMETRIC,
    SIMPLE,
    TEMPLATES,
    array_combinator,
    foreach_combinator,
    if_combinator,
)
from .lexer import Token, tokenize

_JOIN_KINDS = {"INNER", "LEFT", "RIGHT", "FULL", "CROSS", "OUTER"}
_CLAUSE_STOP = {
    "FROM", "PREWHERE", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
    "UNION", "FORMAT", "SETTINGS", "SAMPLE", "ARRAY", "JOIN", "INTO",
}


@dataclass
class TableMeta:
    """Per-table metadata the dialect needs for FINAL / SAMPLE."""

    primary_key: tuple[str, ...] = ()
    version_col: str | None = None
    sign_col: str | None = None
    sample_key: str | None = None
    # sampling key declared in the ENGINE args: SAMPLE cuts the key's
    # RAW type range proportionally (MergeTreeDataSelectExecutor);
    # False = the registry's Knuth-hash emulation for external tables
    sample_raw: bool = False
    engine: str = "MergeTree"
    # classic MergeTree first argument: the partition date column
    # (month partitioning, MergeTreeData.h) — system.parts groups
    # per-INSERT blocks into parts by its toYYYYMM value
    date_col: str | None = None
    # SummingMergeTree explicit columns-to-sum list (the optional last
    # tuple argument); None = sum every numeric non-key column
    sum_cols: tuple[str, ...] | None = None
    # Replicated* origin: INSERT blocks deduplicate by content
    # (ReplicatedMergeTreeBlockOutputStream checksum dedup)
    replicated: bool = False
    # classic MergeTree third argument (index granularity in rows);
    # a PK-pruned read streams single-granule blocks (golden 00160)
    index_granularity: int | None = None
    # Merge(db, 'regex') source spec, resolved per query (StorageMerge)
    merge_db: str | None = None
    merge_pat: str | None = None
    # Replicated* zookeeper path: replicas sharing it share parts state
    zk_path: str | None = None


@dataclass
class Ctx:
    table_meta: dict[str, TableMeta] = field(default_factory=dict)
    columns_of: object | None = None  # Callable[[str], list[str] | None]
    dictionaries: dict[str, "DictSpec"] = field(default_factory=dict)
    # dotted CH name → Spark temp-view name (created tables; Spark
    # views cannot contain dots)
    table_views: dict[str, str] = field(default_factory=dict)
    # Callable[[str], str | None]: inline SQL for system.* tables
    # (Storages/System/ in the reference) built from the engine catalog
    system_sql: object | None = None
    # USE'd database: undotted table names resolve against it first
    default_db: str | None = None
    # Callable[[str], TableDef | None] by rendered view name — FINAL on
    # AggregatingMergeTree needs the AggregateFunction column types
    tabledef_of: object | None = None
    # Callable[[str, str | None], str | None]: aggregate fn name of a
    # stored AggregateFunction column (finalizeAggregation dispatch);
    # second arg is the resolved FROM view so the lookup is scoped to
    # the referenced table, not a global first-match scan
    agg_fn_of: object | None = None
    # resolved FROM target of the SELECT currently being translated
    # (set by _select after _render_from; save/restored per subquery
    # by _translate_union)
    current_table: str | None = None
    # rendered FROM SQL of the current SELECT — lazy schema probes
    # (array-typed bare columns for length/empty dispatch)
    current_from_sql: str | None = None
    # engine session SET values (Settings.h) — seed every SELECT's
    # per-query SETTINGS (join_use_nulls changes join fill semantics)
    session_settings: dict[str, str] = field(default_factory=dict)
    # Callable[[str], list[(col, simple_type)] | None]: analyzed output
    # schema of a FROM-able SQL fragment (join-defaults substitution)
    schema_of_sql: object | None = None
    # alias name → ORIGINAL CH token list (pre-substitution), so
    # translate-time type inference (toTypeName) can see the CH
    # expression instead of the rendered Spark SQL
    alias_ch_toks: dict[str, list] = field(default_factory=dict)
    # subquery select aliases produced by -State aggregate calls:
    # alias -> base aggregate name (finalizeAggregation /
    # runningAccumulate dispatch over inline states)
    state_fn_of: dict = field(default_factory=dict)
    # inferred CH type per output column of the outermost SELECT
    # (positional, None entries not inferable); None when the select
    # list has a star expansion.  Read back via translate_sql(capture=)
    # for WithNamesAndTypes headers and format metadata.
    out_ch_types: list | None = None
    # CH-rendered column names (AST getColumnName analog: alias, bare
    # identifier, or canonical f(arg, ...) text); None entries fall
    # back to the Spark column name in the formatters
    out_ch_names: list | None = None
    # SQL whose row count is the reference's rows_before_limit_at_least
    # (the outermost SELECT without its final LIMIT; totals rows
    # filtered out) — None when the query has no top-level LIMIT
    pre_limit_sql: str | None = None
    # streaming-LIMIT block cap: InterpreterSelectQuery shrinks
    # max_block_size to limit+offset for plain pass-through limits, so
    # rows_before_limit_at_least reports that many rows read (00309)
    limit_block_rows: int | None = None
    # keyless WITH TOTALS: output positions the totals row must render
    # as type defaults (non-aggregate items)
    totals_default_cols: list | None = None
    # constant output columns (ColumnConst) — extremes use the value
    out_const_cols: list | None = None
    # top-level UNION ALL branch SQLs: each branch is its own BLOCK in
    # the output stream (Pretty* render one table per block)
    union_branch_sqls: list | None = None
    # the select currently resolving its FROM aggregates (or groups) —
    # a subquery's WITH TOTALS row must not feed it
    outer_consumes_agg: bool = False
    # a top-level pass-through SELECT over a WITH TOTALS subquery:
    # the inline totals row IS the out-of-band totals block
    passthrough_totals: bool = False
    # a top-level join whose RIGHT subquery declared WITH TOTALS: its
    # totals row pairs null-safe with the left side's (00150)
    join_right_totals: bool = False
    # max_block_size for block-model functions (blockSize() etc);
    # None = the current SELECT has no such calls
    block_fns_b: int | None = None
    # stored-block boundary array SQL when the read replays a table's
    # recorded INSERT block structure (goldens 00340/00341)
    block_starts_sql: str | None = None
    # blockSize() value for a PK-pruned MergeTree read (the
    # index granularity, golden 00160); overrides block_fns_b
    block_granule: int | None = None
    # hidden scan-ordinal column for order-sensitive accumulators
    # (groupArray/groupUniqArray collect in SCAN order in the
    # reference's single-threaded Aggregator); None = not annotated
    group_array_ord: str | None = None
    # per-column hidden lag flags for the preserved string-array has()
    # defect (see _apply_fn `has` branch): column name -> flag column
    has_prev_flags: dict | None = None
    # most recent subquery SQL including its LIMIT (rows_before_limit
    # fallback when the outer query has no LIMIT of its own)
    sub_limited_sql: str | None = None
    # current SELECT nesting depth (1 = outermost)
    select_depth: int = 0
    # scan cap from max_rows_to_read + read_overflow_mode='break'
    max_read_rows: int | None = None
    # per-select merged settings (SET session + query SETTINGS) for
    # FROM-rendering decisions (skip_unavailable_shards,
    # distributed_group_by_no_merge)
    cur_settings: dict = field(default_factory=dict)
    # hidden per-shard group key when distributed_group_by_no_merge=1
    dgb_no_merge_col: str | None = None
    # IN-subquery context: select-list name dedup must not fire
    no_select_dedup: bool = False
    # lambda formal parameter → element CH type, bound while rewriting
    # a higher-order call's arguments
    lambda_types: dict = field(default_factory=dict)
    counter: int = 0

    def gensym(self, prefix: str) -> str:
        self.counter += 1
        return f"__{prefix}{self.counter}"


@dataclass
class DictSpec:
    view: str  # temp view name, key column pre-renamed to __k
    attrs: tuple[str, ...] = ()
    # hierarchical layout: SQL map literal key -> ancestor chain
    # (precomputed driver-side at registration — hierarchy dicts are
    # RAM-resident smalls in the reference too, RegionsHierarchy)
    hier: str | None = None


def translate_sql(
    sql: str,
    table_meta: dict[str, TableMeta] | None = None,
    columns_of=None,
    dictionaries: dict[str, DictSpec] | None = None,
    table_views: dict[str, str] | None = None,
    system_sql=None,
    default_db: str | None = None,
    tabledef_of=None,
    agg_fn_of=None,
    schema_of_sql=None,
    capture: dict | None = None,
    session_settings: dict | None = None,
) -> str:
    from .functions_map import reset_rand_constant

    reset_rand_constant()  # one randConstant draw per statement
    ctx = Ctx(
        table_meta=table_meta or {},
        columns_of=columns_of,
        dictionaries=dictionaries or {},
        table_views=table_views or {},
        system_sql=system_sql,
        default_db=default_db,
        tabledef_of=tabledef_of,
        agg_fn_of=agg_fn_of,
        schema_of_sql=schema_of_sql,
        session_settings=session_settings or {},
    )
    tokens = tokenize(sql)
    while tokens and tokens[-1].text == ";":
        tokens = tokens[:-1]
    # Scale guard for the bit-exact quantile family: SET/SETTINGS
    # approx_quantiles = 1 routes quantile*/median* through Spark's
    # percentile_approx (bounded-memory GK sketch) instead of the
    # collect_list -> reservoir-replay Arrow UDF (unbounded per-group
    # memory — exact vs the reference, but not a 100 TB plan).
    import re as _re

    from . import functions_map as _fm

    _aq = (session_settings or {}).get("approx_quantiles", "0")
    _m = _re.search(
        r"\bSETTINGS\b[^;]*\bapprox_quantiles\s*=\s*(\d+)", sql, _re.I
    )
    if _m:
        _aq = _m.group(1)
    _prev_aq = _fm.APPROX_QUANTILES
    _fm.APPROX_QUANTILES = str(_aq) not in ("0", "")
    try:
        out = _translate_union(tokens, ctx)
    finally:
        _fm.APPROX_QUANTILES = _prev_aq
    if capture is not None:
        capture["out_ch_types"] = ctx.out_ch_types
        capture["out_ch_names"] = ctx.out_ch_names
        capture["pre_limit_sql"] = ctx.pre_limit_sql
        capture["limit_block_rows"] = ctx.limit_block_rows
        capture["totals_default_cols"] = ctx.totals_default_cols
        capture["out_const_cols"] = ctx.out_const_cols
        capture["union_branch_sqls"] = ctx.union_branch_sqls
        capture["passthrough_totals"] = ctx.passthrough_totals
    return out


# ------------------------------------------------------------ union split


def _translate_union(tokens: list[Token], ctx: Ctx) -> str:
    # scope current_table to this (sub)query: an inner FROM-subquery or
    # scalar subquery must not leak its table into the enclosing SELECT
    prev_table = ctx.current_table
    prev_from = ctx.current_from_sql
    try:
        return _translate_union_inner(tokens, ctx)
    finally:
        ctx.current_table = prev_table
        ctx.current_from_sql = prev_from


def _union_arms(tokens: list[Token]) -> list[list[Token]]:
    """The depth-0 ``UNION ALL`` arms of a query (one arm if none)."""
    parts: list[list[Token]] = []
    depth = 0
    start = 0
    for i, t in enumerate(tokens):
        depth += (t.text == "(") - (t.text == ")")
        if (
            depth == 0
            and t.is_kw("UNION")
            and i + 1 < len(tokens)
            and tokens[i + 1].is_kw("ALL")
        ):
            parts.append(tokens[start:i])
            start = i + 2
    parts.append(tokens[start:])
    return parts


def _translate_union_inner(tokens: list[Token], ctx: Ctx) -> str:
    parts = _union_arms(tokens)
    if len(parts) == 1:
        return _translate_select(parts[0], ctx)
    # Each UNION ALL branch keeps its own ORDER BY / LIMIT (the
    # reference applies them per-select — ASTSelectQuery.h:78 chains
    # complete selects); parenthesize so Spark scopes them per branch
    # instead of attaching a trailing LIMIT to the whole union.
    branch_sqls = [_translate_select(p, ctx) for p in parts]
    if ctx.select_depth == 0:
        # each branch streams as its own block (Pretty* formats draw
        # one table per block — PrettySpaceBlockOutputStream)
        ctx.union_branch_sqls = list(branch_sqls)
    return "\nUNION ALL\n".join(f"(\n{b}\n)" for b in branch_sqls)


# -------------------------------------------------------- clause splitting


def _translate_select(tokens: list[Token], ctx: Ctx) -> str:
    ctx.select_depth += 1
    try:
        return _translate_select_inner(tokens, ctx)
    finally:
        ctx.select_depth -= 1


def _translate_select_inner(tokens: list[Token], ctx: Ctx) -> str:
    i = 0
    n = len(tokens)

    def peek(k: int = 0) -> Token | None:
        return tokens[i + k] if i + k < n else None

    # ---- WITH (scalar-expression aliases, ExpressionAnalyzer WITH list)
    with_subs: dict[str, str] = {}
    if peek() is not None and peek().is_kw("WITH"):
        i += 1
        while True:
            expr_toks, i = _take_until(tokens, i, {"AS"}, depth_sensitive=True)
            assert peek() is not None and peek().is_kw("AS"), "WITH expr AS alias"
            i += 1
            alias = tokens[i].text
            i += 1
            with_subs[alias] = f"({_rewrite(expr_toks, ctx)})"
            if peek() is not None and peek().text == ",":
                i += 1
                continue
            break

    assert peek() is not None and peek().is_kw("SELECT"), "expected SELECT"
    i += 1
    distinct = False
    if peek() is not None and peek().is_kw("DISTINCT"):
        distinct = True
        i += 1

    select_toks, i = _take_clause(tokens, i)

    from_toks: list[Token] = []
    sample_toks: list[Token] = []
    array_join_items: list[tuple[bool, list[Token]]] = []  # (left, item tokens)
    joins: list[dict] = []
    prewhere_toks: list[Token] = []
    where_toks: list[Token] = []
    group_toks: list[Token] = []
    with_totals = False
    having_toks: list[Token] = []
    order_toks: list[Token] = []
    limit_by: tuple[str, str, list[Token]] | None = None  # (n, offset, cols)
    limit_txt: str | None = None
    offset_txt: str | None = None
    # session-level SET values seed the per-query SETTINGS
    settings: dict[str, str] = dict(ctx.session_settings)

    # Clause order is fixed (ParserSelectQuery.cpp parses the clauses in
    # sequence, so e.g. `LIMIT 5 GROUP BY k` is a syntax error there).
    # Enforcing the same order here matters: accepting it silently would
    # apply the LIMIT *after* the aggregation — a different query.
    _RANK = {
        "FROM": 1, "SAMPLE": 2, "ARRAY": 3, "JOIN": 3, "PREWHERE": 4,
        "WHERE": 5, "GROUP": 6, "WITH": 6, "HAVING": 7, "ORDER": 8,
        "LIMIT": 9,
    }
    clause_rank = 0

    def _order(kw: str) -> None:
        nonlocal clause_rank
        r = _RANK[kw]
        if r < clause_rank:
            raise ValueError(
                f"{kw} clause out of order (reference clause sequence: "
                "FROM SAMPLE [ARRAY] JOIN PREWHERE WHERE GROUP BY HAVING "
                "ORDER BY LIMIT)"
            )
        clause_rank = max(clause_rank, r)

    while i < n:
        t = tokens[i]
        if t.is_kw("FROM"):
            _order("FROM")
            i += 1
            from_toks, i = _take_from(tokens, i)
        elif t.is_kw("SAMPLE"):
            _order("SAMPLE")
            i += 1
            sample_toks, i = _take_clause(tokens, i)
        elif t.is_kw("ARRAY") and _kw_at(tokens, i + 1, "JOIN"):
            _order("ARRAY")
            i += 2
            items, i = _take_clause(tokens, i)
            for item in _split_top(items, ","):
                array_join_items.append((False, item))
        elif (
            t.is_kw("LEFT")
            and _kw_at(tokens, i + 1, "ARRAY")
            and _kw_at(tokens, i + 2, "JOIN")
        ):
            _order("ARRAY")
            i += 3
            items, i = _take_clause(tokens, i)
            for item in _split_top(items, ","):
                array_join_items.append((True, item))
        elif _is_join_start(tokens, i):
            _order("JOIN")
            j, i = _take_join(tokens, i)
            joins.append(j)
        elif t.is_kw("PREWHERE"):
            _order("PREWHERE")
            i += 1
            prewhere_toks, i = _take_clause(tokens, i)
        elif t.is_kw("WHERE"):
            _order("WHERE")
            i += 1
            where_toks, i = _take_clause(tokens, i)
        elif t.is_kw("GROUP") and _kw_at(tokens, i + 1, "BY"):
            _order("GROUP")
            i += 2
            group_toks, i = _take_clause(tokens, i)
            if _kw_at(tokens, i, "WITH") and _kw_at(tokens, i + 1, "TOTALS"):
                with_totals = True
                i += 2
        elif t.is_kw("WITH") and _kw_at(tokens, i + 1, "TOTALS"):
            _order("WITH")
            # keyless `count() WITH TOTALS` form (totals row duplicates
            # the global aggregate, matching the reference)
            with_totals = True
            i += 2
        elif t.is_kw("HAVING"):
            _order("HAVING")
            i += 1
            having_toks, i = _take_clause(tokens, i)
        elif t.is_kw("ORDER") and _kw_at(tokens, i + 1, "BY"):
            _order("ORDER")
            i += 2
            order_toks, i = _take_clause(tokens, i)
        elif t.is_kw("LIMIT"):
            _order("LIMIT")
            i += 1
            lim_toks, i = _take_clause(tokens, i)
            # forms: n | o, n | n OFFSET o — optionally followed by BY cols
            by_cols: list[Token] | None = None
            for k, lt in enumerate(lim_toks):
                if lt.is_kw("BY"):
                    by_cols = lim_toks[k + 1 :]
                    lim_toks = lim_toks[:k]
                    break
            nums = _split_top(lim_toks, ",")
            if len(nums) == 2:
                off, lim = _rewrite(nums[0], ctx), _rewrite(nums[1], ctx)
            else:
                sub = nums[0]
                off = None
                for k, lt in enumerate(sub):
                    if lt.is_kw("OFFSET"):
                        off = _rewrite(sub[k + 1 :], ctx)
                        sub = sub[:k]
                        break
                lim = _rewrite(sub, ctx)
            if by_cols is not None:
                limit_by = (lim, off or "0", by_cols)
            else:
                limit_txt, offset_txt = lim, off
        elif t.is_kw("SETTINGS"):
            # Most settings are engine-level/advisory (Settings.h), but
            # totals_mode changes result semantics — parse name=value
            # pairs and keep the ones the translator honors.
            i += 1
            while i < n and not tokens[i].is_kw("FORMAT"):
                if (
                    tokens[i].kind in ("ident", "qident")
                    and i + 2 < n + 1
                    and i + 1 < n
                    and tokens[i + 1].text == "="
                    and i + 2 < n
                ):
                    val = tokens[i + 2].text
                    settings[tokens[i].text] = val.strip("'\"")
                    i += 3
                else:
                    i += 1
                if i < n and tokens[i].text == ",":
                    i += 1
            break
        elif t.is_kw("FORMAT"):
            break  # client-side output format; nothing to translate
        else:
            raise ValueError(f"unexpected token in query: {t.text!r}")

    # ---- inline expression aliases (ExpressionAnalyzer normalizeTree
    # alias substitution: ANY subexpression may carry `AS name`, and the
    # name is visible query-wide — `position('abc' AS h, lower('x' AS n))
    # ... = h`).  Nested aliases are stripped from the token stream and
    # recorded; top-level select-item aliases stay (they name output
    # columns) but are recorded for reference elsewhere.
    # output-column aliases (top-level `expr AS name` select items) are
    # substituted only into WHERE/PREWHERE — Spark resolves them itself
    # in GROUP BY / HAVING / ORDER BY, and substituting a literal there
    # would turn `ORDER BY x` into a constant (or positional!) sort.
    _saved_block_g = ctx.block_granule
    ctx.block_granule = None
    if from_toks and any(
        t.kind == "ident"
        and t.text == "blockSize"
        and k + 1 < len(where_toks)
        and where_toks[k + 1].text == "("
        for k, t in enumerate(where_toks)
    ):
        # blockSize() inside WHERE over a PK-pruned MergeTree read:
        # the WHERE actions run per SCANNED block, and an index-driven
        # read streams single-granule blocks
        # (MergeTreeDataSelectExecutor mark-range spreading) — so
        # blockSize() there is the index granularity, not
        # max_block_size (golden 00160: MergeTree(d, x, 1), WHERE x IN
        # (…) AND NOT ignore(blockSize() < 10 AS b) sees 1-row blocks).
        # Gate: plain table FROM, granularity declared, first PK
        # column filtered.  Runs BEFORE inline-alias collection —
        # alias bodies render at collection time.
        _bt_name = ".".join(
            t.text for t in from_toks if t.kind in ("ident", "qident")
        ) if all(
            t.kind in ("ident", "qident") or t.text == "."
            for t in from_toks
        ) else None
        _bm = None
        if _bt_name:
            _bm = ctx.table_meta.get(
                _resolve_view_name(_bt_name, ctx) or _bt_name
            ) or ctx.table_meta.get(_bt_name)
        if (
            _bm is not None
            and _bm.index_granularity is not None
            and _bm.primary_key
            and any(
                t.kind in ("ident", "qident")
                and t.text.strip("`") == _bm.primary_key[0]
                for t in where_toks
            )
        ):
            ctx.block_granule = _bm.index_granularity

    # ---- block-model introspection (blockSize/rowNumberInAllBlocks/
    # rowNumberInBlock/blockNumber): the reference streams blocks;
    # emulate by annotating the source with a global row number and a
    # per-block size, then substituting the calls with column
    # arithmetic (_apply_fn).  The DECISION runs BEFORE inline-alias
    # collection (alias bodies render at collection time — `blockSize()
    # AS b, count()/b`, golden 00341); the from_sql wrap happens after
    # FROM renders.  A stored table whose INSERT history recorded the
    # squashed block structure replays THOSE block sizes (goldens
    # 00340/00341); everything else chunks by max_block_size.
    _block_fns = {
        "blockSize", "rowNumberInAllBlocks", "rowNumberInBlock",
        "blockNumber",
    }
    _saved_block_b = ctx.block_fns_b
    _saved_block_starts = ctx.block_starts_sql
    ctx.block_starts_sql = None
    _blk_wrap = None
    if any(
        t.kind == "ident"
        and t.text in _block_fns
        and k + 1 < len(select_toks)
        and select_toks[k + 1].text == "("
        for k, t in enumerate(select_toks)
    ) and not any(t.text == "*" for t in select_toks):
        _bb = int(str(settings.get("max_block_size", 65536)))
        ctx.block_fns_b = _bb
        _bt_name = ".".join(
            t.text for t in from_toks if t.kind in ("ident", "qident")
        ) if from_toks and all(
            t.kind in ("ident", "qident") or t.text == "."
            for t in from_toks
        ) else None
        _bsizes = None
        if _bt_name and ctx.tabledef_of is not None:
            _btd = ctx.tabledef_of(_bt_name)
            if (
                _btd is not None
                and getattr(_btd, "block_sizes", None)
                and sum(_btd.block_sizes) == getattr(_btd, "row_count", -1)
                and len(_btd.block_sizes) <= 1024
            ):
                _bsizes = list(_btd.block_sizes)
        _blk_post_where = bool(where_toks) or bool(prewhere_toks)
        if _bsizes:
            _starts = [0]
            for _b in _bsizes[:-1]:
                _starts.append(_starts[-1] + _b)
            _starts_sql = "array(" + ", ".join(map(str, _starts)) + ")"
            ctx.block_starts_sql = _starts_sql
            _blk_wrap = ("starts", _starts_sql, _blk_post_where)
        else:
            _blk_wrap = ("window", _bb, _blk_post_where)

    out_subs: dict[str, str] = {}
    select_toks = _collect_inline_aliases(
        select_toks, ctx, with_subs, out_subs=out_subs, top_select=True
    )
    where_toks = _collect_inline_aliases(where_toks, ctx, with_subs)
    prewhere_toks = _collect_inline_aliases(prewhere_toks, ctx, with_subs)
    having_toks = _collect_inline_aliases(having_toks, ctx, with_subs)
    order_toks = _collect_inline_aliases(order_toks, ctx, with_subs)
    # FORWARD alias references: collection renders each body with only
    # the aliases seen so far, so `... AS n_` referencing `b7` defined
    # later still holds a raw `b7`.  Bring the bodies to a fixpoint
    # (normalizeTree substitutes query-wide, order-independent —
    # golden 00216's n_/b7..b0 chain).
    _resolve_alias_chain(out_subs)

    # ---- WITH + inline-alias substitutions apply to every expression clause
    def subst(toks: list[Token]) -> list[Token]:
        return _substitute(toks, with_subs)

    select_items = [subst(s) for s in _split_top(select_toks, ",")]
    where_subs = {**with_subs, **out_subs}
    where_toks = _substitute(where_toks, where_subs, reexpand=True)
    prewhere_toks = _substitute(prewhere_toks, where_subs, reexpand=True)
    group_toks, having_toks, order_toks = (
        subst(group_toks), subst(having_toks), subst(order_toks),
    )

    # ---- arrayJoin() calls in the select list become ARRAY JOIN items.
    # DISTINCT argument expressions multiply independently (each
    # FunctionArrayJoin call replicates the block on its own —
    # cartesian), while repeated identical calls collapse to one column
    # (normalizeTree common-subexpression folding).
    aj_fn_seen: dict[str, str] = {}  # arg token text -> exploded alias
    array_join_indep: list[tuple[str, list[Token]]] = []
    # When the query AGGREGATES, a select-list arrayJoin runs on the
    # POST-aggregation block (FunctionArrayJoin executes in the final
    # ExpressionActions): the aggregate computes over the un-exploded
    # input and the result rows multiply afterwards.  Handled for
    # whole-item `arrayJoin(expr) AS alias` forms by wrapping the
    # aggregated SELECT in an outer lateral view (below).
    aj_post: list[tuple] = []  # (idx, alias, arg_toks, out_name, outer_toks, orig_name, orig_toks)
    _has_agg_sel = any(_item_has_agg(s) for s in select_items)
    if _has_agg_sel:
        whole = []
        for idx, item in enumerate(select_items):
            pos = _find_call(item, "arrayJoin")
            if pos is None:
                continue
            s, e, arg_toks = pos
            body, user_alias = _strip_alias(item)
            if (
                _item_has_agg(arg_toks)
                or _item_has_agg(body[:s])
                or _item_has_agg(body[e:])
            ):
                whole = None  # agg-entangled form: pre-explode path
                break
            whole.append((idx, s, e, body, arg_toks, user_alias, item))
        if whole:
            # the explode must stay BEFORE aggregation when its output
            # feeds the aggregation (a GROUP BY key / WHERE / HAVING
            # reference) — ExpressionAnalyzer keeps arrayJoin in the
            # before-aggregation chain then
            _aj_names = {
                ua for _i, _s, _e, _b, _a, ua, _it in whole if ua
            }
            for _clause in (group_toks, where_toks, prewhere_toks,
                            having_toks):
                if any(
                    t.kind == "ident"
                    and (t.text in _aj_names or t.text == "arrayJoin")
                    for t in _clause
                ):
                    whole = None
                    break
        if whole:
            seen_post: dict[str, str] = {}
            for idx, s, e, body, arg_toks, user_alias, item in whole:
                key = " ".join(t.text for t in arg_toks)
                alias = seen_post.get(key) or ctx.gensym("ajp")
                seen_post[key] = alias
                out_name = user_alias or ctx.gensym("ajx")
                outer_toks = (
                    body[:s] + [Token("ident", alias)] + body[e:]
                )
                orig_name = _ch_item_name(item)
                aj_post.append(
                    (idx, alias, arg_toks, out_name, outer_toks,
                     orig_name, list(body))
                )
                # the INNER (aggregated) select carries a hole; the
                # outer wrap projects the exploded expression there
                select_items[idx] = [
                    Token("number", "0"),
                    Token("ident", "AS"),
                    Token("ident", f"__ajph{idx}"),
                ]
                if user_alias and out_name not in ctx.alias_ch_toks:
                    ctx.alias_ch_toks[out_name] = list(body)
    for idx, item in enumerate(select_items):
        if any(p[0] == idx for p in aj_post):
            continue
        pos = _find_call(item, "arrayJoin")
        if pos is not None:
            s, e, arg_toks = pos
            body, user_alias = _strip_alias(item)
            key = " ".join(t.text for t in arg_toks)
            if key in aj_fn_seen:
                # same argument: reuse the first explosion's column
                alias = aj_fn_seen[key]
                if user_alias is not None and s == 0 and e == len(body):
                    select_items[idx] = [
                        Token("ident", alias),
                        Token("ident", "AS"),
                        Token("ident", user_alias),
                    ]
                else:
                    select_items[idx] = item[:s] + [Token("ident", alias)] + item[e:]
                continue
            if aj_fn_seen:
                # second DISTINCT arrayJoin: independent lateral view
                if user_alias is not None and s == 0 and e == len(body):
                    alias = user_alias
                    select_items[idx] = [
                        Token("ident", alias),
                        Token("ident", "AS"),
                        Token("ident", alias),
                    ]
                else:
                    alias = ctx.gensym("ajf")
                    select_items[idx] = item[:s] + [Token("ident", alias)] + item[e:]
                if alias not in ctx.alias_ch_toks:
                    ctx.alias_ch_toks[alias] = list(body[s:e]) if body else []
                aj_fn_seen[key] = alias
                array_join_indep.append((alias, arg_toks))
                continue
            aj_fn_seen[key] = (
                user_alias
                if user_alias is not None and s == 0 and e == len(body)
                else None  # patched below once the gensym is known
            )
            if user_alias is not None and s == 0 and e == len(body):
                # whole item is `arrayJoin(expr) AS alias`: reuse the user
                # alias so WHERE/GROUP BY references resolve to the
                # exploded value (ARRAY JOIN precedes WHERE in the
                # reference pipeline, InterpreterSelectQuery.cpp:556)
                array_join_items.append(
                    (False, arg_toks + [Token("ident", "AS"), Token("ident", user_alias)])
                )
                # original CH tokens for type inference (the exploded
                # column's CH type is the arrayJoin expression's)
                if user_alias not in ctx.alias_ch_toks:
                    ctx.alias_ch_toks[user_alias] = list(body[s:e])
                select_items[idx] = [
                    Token("ident", user_alias),
                    Token("ident", "AS"),
                    Token("ident", user_alias),
                ]
            else:
                alias = ctx.gensym("ajf")
                array_join_items.append(
                    (False, arg_toks + [Token("ident", "AS"), Token("ident", alias)])
                )
                ctx.alias_ch_toks[alias] = list(item[s:e])
                select_items[idx] = item[:s] + [Token("ident", alias)] + item[e:]
                aj_fn_seen[key] = alias

    # max_rows_to_read + read_overflow_mode='break' stops the scan at
    # the cap (Limits.h) — honored for the unbounded system.numbers
    # source, which would otherwise scan its full virtual range
    cap = settings.get("max_rows_to_read")
    if cap and str(cap).isdigit() and settings.get("read_overflow_mode") == "break":
        # 'break' stops at a BLOCK boundary: the limit check runs after
        # each whole block, so rows read round UP to max_block_size
        # multiples (Limits.h; golden 00167's DISTINCT blockSize())
        _capv = int(cap)
        _capbb = int(str(settings.get("max_block_size", 65536)))
        ctx.max_read_rows = -(-_capv // _capbb) * _capbb

    # ---- FROM
    # a FROM-subquery's WITH TOTALS row is invisible to an aggregating
    # outer query (totals travel out-of-band in the reference) —
    # _render_from strips it when this flag is set
    ctx.outer_consumes_agg = (
        _item_has_agg(select_toks) or bool(group_toks)
    )
    _pt_saved = ctx.passthrough_totals
    ctx.cur_settings = settings
    _saved_dgb = ctx.dgb_no_merge_col
    ctx.dgb_no_merge_col = None
    from_sql, table_name = _render_from(from_toks, ctx)
    _dgb_col = ctx.dgb_no_merge_col
    ctx.dgb_no_merge_col = _saved_dgb
    # did the LEFT side itself declare WITH TOTALS?  (read before the
    # joins render — a joined subquery's totals also set the flag)
    left_had_totals = ctx.passthrough_totals
    # NEWLY set by THIS select's FROM — the global flag stays raised
    # while nested selects of an enclosing totals-passthrough query
    # translate, so a stale read must not trigger per-select wraps
    # (00111: the inner LIMIT 10 is not the totals carrier)
    from_totals_here = ctx.passthrough_totals and not _pt_saved

    # ---- block-model introspection (blockSize/rowNumberInAllBlocks/
    # rowNumberInBlock/blockNumber): the reference streams
    # max_block_size-row blocks; emulate by annotating the source with
    # a global row number and per-block count, then substituting the
    # calls with column arithmetic (_apply_fn) — aggregables, unlike
    # window expressions
    _block_fns = {
        "blockSize", "rowNumberInAllBlocks", "rowNumberInBlock",
        "blockNumber",
    }
    if _blk_wrap is not None:
        rn = (
            "CAST(row_number() OVER "
            "(ORDER BY monotonically_increasing_id()) AS BIGINT) - 1"
        )
        if _blk_wrap[0] == "starts":
            _starts_sql = _blk_wrap[1]
            _blk_expr = (
                f"CAST(size(filter({_starts_sql}, "
                f"__bst -> __bst <= __rnall)) AS BIGINT)"
            )
        else:
            _bb = _blk_wrap[1]
            _blk_expr = f"CAST(floor(__rnall / {_bb}) AS BIGINT)"
        from_sql = (
            f"(SELECT *, {_blk_expr} AS __blk FROM "
            f"(SELECT *, {rn} AS __rnall FROM {from_sql}) "
            f"{ctx.gensym('blk')}) {ctx.gensym('blk')}"
        )
        if not _blk_wrap[2]:
            # no filtering between the scan and the SELECT: the block
            # size is the stored/chunked size — annotate it here
            from_sql = (
                f"(SELECT *, count(*) OVER (PARTITION BY __blk) "
                f"AS __bsz FROM {from_sql} ) {ctx.gensym('blk')}"
            )
    # groupArray/groupUniqArray accumulate in SCAN order (the
    # reference's single-threaded Aggregator appends per block) —
    # Spark's collect_list order is partition-merge luck.  Annotate the
    # source with a hidden monotonic ordinal; _apply_fn then collects
    # (ordinal, value) structs and sorts (golden 00089).
    _saved_ga_ord = ctx.group_array_ord
    ctx.group_array_ord = None
    if (
        from_sql
        and not joins
        and any(
            t.kind == "ident"
            and t.text == "groupArray"
            and k + 1 < len(select_toks)
            and select_toks[k + 1].text == "("
            for k, t in enumerate(select_toks)
        )
        and not any(t.text == "*" for t in select_toks)
    ):
        _ga = ctx.gensym("gaord")
        from_sql = (
            f"(SELECT *, monotonically_increasing_id() AS {_ga} "
            f"FROM {from_sql}) {ctx.gensym('ga')}"
        )
        ctx.group_array_ord = _ga
    # has() over stored Array(Nullable(String)) columns replays the
    # reference's shifted-null-map defect, whose first element reads
    # the PREVIOUS row's last flag — annotate a lag column per such
    # column (see the `has` branch in _apply_fn, golden 00395)
    _saved_hpf = ctx.has_prev_flags
    ctx.has_prev_flags = None
    if (
        from_sql
        and not joins
        and table_name
        and ctx.tabledef_of is not None
        and any(
            t.kind == "ident" and t.text == "has"
            for t in select_toks + where_toks + having_toks
        )
        and not any(t.text == "*" for t in select_toks)
    ):
        _htd = ctx.tabledef_of(table_name)
        _hcols = [
            c.name
            for c in (_htd.columns if _htd is not None else [])
            if (c.ch_type or "").startswith("Array(Nullable(String")
            or (c.ch_type or "").startswith("Array(Nullable(FixedString")
        ]
        if _hcols:
            _flags = {}
            adds = []
            for c in _hcols:
                fl = ctx.gensym("hpf")
                adds.append(
                    f"lag(element_at(`{c}`, -1) IS NULL, 1) OVER "
                    f"(ORDER BY monotonically_increasing_id()) AS {fl}"
                )
                _flags[c] = fl
            from_sql = (
                f"(SELECT *, {', '.join(adds)} FROM {from_sql}) "
                f"{ctx.gensym('hp')}"
            )
            ctx.has_prev_flags = _flags
    # single WIDE-numeric grouping key (key32/key64 methods): output
    # order is hash-table order with FIRST-OCCURRENCE insertion — a
    # collision probes past earlier keys, so the rank must come from
    # the source scan.  Annotate an ordinal now; the select list gets
    # a hidden min() rank and the post-assembly branch adds the
    # ch_k64_slot ordering (golden 00212's Float64/Float32 keys).
    _k64_ord: str | None = None
    _k64_type: str | None = None
    _k64_col: str | None = None
    if (
        ctx.select_depth == 1
        and from_sql
        and not joins
        and group_toks
        and not order_toks  # an explicit ORDER BY wins; no replay
        and len(_split_top(group_toks, ",")) == 1
        and not with_totals
        and limit_by is None
        and not any(t.text == "*" for t in select_toks)
    ):
        ctx.current_table = table_name
        _gk1 = _split_top(group_toks, ",")[0]
        _gt1 = (_infer_expr_ch_type(_gk1, ctx) or "").split("(")[0]
        if _gt1 in (
            "UInt32", "Int32", "UInt64", "Int64", "Float32", "Float64",
        ):
            _gtxt = " ".join(t.text for t in _gk1)
            for s in select_items:
                body, al = _strip_alias(s)
                btxt = " ".join(t.text for t in body)
                if al and (btxt == _gtxt or al == _gtxt):
                    _k64_col = al
                    break
                if (
                    btxt == _gtxt
                    and len(body) == 1
                    and body[0].kind in ("ident", "qident")
                ):
                    _k64_col = body[0].text.strip("`")
                    break
            if _k64_col is not None:
                _k64_type = _gt1
                _k64_ord = ctx.gensym("k64o")
                from_sql = (
                    f"(SELECT *, monotonically_increasing_id() AS "
                    f"{_k64_ord} FROM {from_sql}) {ctx.gensym('k64')}"
                )
    ctx.current_table = table_name
    ctx.current_from_sql = from_sql or None

    # Nested columns are literal dotted names (`nest.x` — DataTypeNested
    # parallel arrays): fold ident.ident chains matching an actual
    # column into one backquoted identifier so Spark doesn't read them
    # as table-qualified references.
    dotted: set[str] = set()
    has_part = False
    if table_name and ctx.columns_of is not None:
        cols_ = ctx.columns_of(table_name)
        dotted = {c for c in (cols_ or []) if "." in c}
        has_part = "_part" in (cols_ or [])
    # MATERIALIZED/ALIAS columns (ColumnDefault.h) and the _part
    # virtual column: hidden from *, ALIAS references rewritten to
    # their stored expression
    vis_cols: list[str] | None = None
    alias_subs: dict[str, str] = {}
    if table_name and ctx.tabledef_of is not None:
        _vt = ctx.tabledef_of(table_name)
        if _vt is not None and (
            has_part
            or any(getattr(c, "is_virtual", False) for c in _vt.columns)
        ):
            vis_cols = [c.name for c in _vt.columns if not c.is_virtual]
            alias_subs = {
                c.name: f"({c.default})"
                for c in _vt.columns
                if c.is_alias and c.default
            }
            alias_subs = _resolve_alias_chain(alias_subs)
            dotted |= {c.name for c in _vt.columns if "." in c.name}
    if vis_cols is not None and not joins:
        _expanded_items: list[list[Token]] = []
        for item in select_items:
            if len(item) == 1 and item[0].text == "*":
                # one item per column (NOT a single raw blob) so the
                # ARRAY JOIN / dotted-name substitutions below apply
                # per column (00147's `SELECT * ... ARRAY JOIN n`)
                _expanded_items.extend(
                    [Token("qident", f"`{c}`")] for c in vis_cols
                )
            else:
                _expanded_items.append(item)
        select_items = _expanded_items
    # ARRAY JOIN of a Nested BLOCK name expands to its member columns
    # in lockstep (NestedUtils: `ARRAY JOIN n [AS m]` joins every `n.x`
    # and outputs them as `m.x`) — expand before folding so the new
    # dotted output names fold too
    aj_out_names: set[str] = set()
    aj_renames: dict[str, str] = {}  # visible dotted out-name → safe alias
    if array_join_items and (dotted or alias_subs):
        if dotted:
            array_join_items = [
                (left_, _fold_dotted(it, dotted))
                for left_, it in array_join_items
            ]
        expanded: list[tuple[bool, list[Token]]] = []
        for is_left, item in array_join_items:
            item_toks, aj_alias = _strip_alias(item)
            base = (
                item_toks[0].text.strip("`")
                if len(item_toks) == 1
                and item_toks[0].kind in ("ident", "qident")
                else None
            )
            members = (
                [c for c in sorted(dotted) if c.startswith(base + ".")]
                if base
                else []
            )
            if members:
                out_base = aj_alias.strip("`") if aj_alias else base
                for m in members:
                    out_name = f"{out_base}.{m.split('.', 1)[1]}"
                    safe = ctx.gensym("ajm")
                    aj_out_names.add(out_name)
                    aj_renames[out_name] = safe
                    expanded.append(
                        (
                            is_left,
                            [
                                Token("qident", f"`{m}`"),
                                Token("ident", "AS"),
                                Token("ident", safe),
                            ],
                        )
                    )
            elif base is not None and base in alias_subs:
                # ARRAY JOIN over an ALIAS column: explode the stored
                # expression; the visible name (or AS alias) refers to
                # the exploded element, never the whole array
                out_name = aj_alias.strip("`") if aj_alias else base
                safe = ctx.gensym("ajm")
                aj_out_names.add(out_name)
                aj_renames[out_name] = safe
                expanded.append(
                    (
                        is_left,
                        [
                            Token("raw", alias_subs[base]),
                            Token("ident", "AS"),
                            Token("ident", safe),
                        ],
                    )
                )
            else:
                expanded.append((is_left, item))
        array_join_items = expanded
        dotted |= aj_out_names
    if dotted:
        select_items = [_fold_dotted(s, dotted) for s in select_items]
        where_toks = _fold_dotted(where_toks, dotted)
        prewhere_toks = _fold_dotted(prewhere_toks, dotted)
        group_toks = _fold_dotted(group_toks, dotted)
        having_toks = _fold_dotted(having_toks, dotted)
        order_toks = _fold_dotted(order_toks, dotted)
        array_join_items = [
            (left_, _fold_dotted(it, dotted)) for left_, it in array_join_items
        ]
    if alias_subs:
        # inside ARRAY JOIN items the whole-array ALIAS expression is
        # wanted; in the main clauses a name that is an ARRAY JOIN
        # output refers to the exploded element instead — never
        # substitute those
        array_join_items = [
            (left_, _substitute(it, alias_subs))
            for left_, it in array_join_items
        ]
        clause_subs = {
            k: v for k, v in alias_subs.items() if k not in aj_out_names
        }
        if clause_subs:
            select_items = [_substitute(s, clause_subs) for s in select_items]
            where_toks = _substitute(where_toks, clause_subs)
            prewhere_toks = _substitute(prewhere_toks, clause_subs)
            group_toks = _substitute(group_toks, clause_subs)
            having_toks = _substitute(having_toks, clause_subs)
            order_toks = _substitute(order_toks, clause_subs)

    # ---- ARRAY JOIN → LATERAL VIEW (+ substitutions for lockstep items)
    lateral = ""
    lateral_pos: list[str] = []
    aj_subs: dict[str, str] = {}
    if array_join_items:
        first_left, first_toks = array_join_items[0]
        exprs: list[tuple[str, str, bool]] = []  # (alias, expr_sql, explicit)
        for is_left, item in array_join_items:
            item_toks, alias = _strip_alias(item)
            expr_sql = _rewrite(item_toks, ctx)
            if (
                alias is not None
                and len(item_toks) == 1
                and item_toks[0].kind in ("ident", "qident")
                and alias.strip("`") == item_toks[0].text.strip("`")
            ):
                # `ARRAY JOIN x AS x` self-alias: identical to the bare
                # shadowing form — a real output column would collide
                # with the source column
                alias = None
            explicit = alias is not None
            if alias is None:
                if len(item_toks) == 1 and item_toks[0].kind in ("ident", "qident"):
                    alias = item_toks[0].text.strip("`")
                else:
                    alias = ctx.gensym("aj")
            exprs.append((alias, expr_sql, explicit))
        pos_alias = ctx.gensym("ajpos")
        lateral_pos.append(pos_alias)
        # An explicit `ARRAY JOIN arr AS e` alias becomes the lateral
        # view's real output column: `e` then resolves everywhere
        # (including output-scope ORDER BY) with no substitution, and
        # cannot collide with a source column the way the bare form
        # (`ARRAY JOIN arr` shadowing column arr) would.
        if exprs[0][2]:
            val_alias = exprs[0][0]
        else:
            val_alias = ctx.gensym("ajval")
            aj_subs[exprs[0][0]] = val_alias
        fn = "posexplode_outer" if first_left else "posexplode"
        if first_left:
            # LEFT ARRAY JOIN fills the element TYPE DEFAULT for empty
            # arrays (ArrayJoinAction left semantics) — Spark's
            # posexplode_outer yields NULL; reroute references through
            # an ifnull when the element type is statically known
            _ft, _fal = _strip_alias(first_toks)
            _at = _infer_expr_ch_type(_ft, ctx) or ""
            if _at.startswith("Nullable("):
                _at = _at[9:-1]
            if _at.startswith("Array("):
                _d = _elem_default_sql(_at[6:-1], exprs[0][1])
                if _d is not None:
                    hidden = ctx.gensym("ajval")
                    aj_subs[exprs[0][0]] = f"ifnull({hidden}, {_d})"
                    val_alias = hidden
        lateral = f" LATERAL VIEW {fn}({exprs[0][1]}) {ctx.gensym('ajv')} AS {pos_alias}, {val_alias}"
        for alias, expr_sql, _explicit in exprs[1:]:
            aj_subs[alias] = f"element_at({expr_sql}, {pos_alias} + 1)"
        # Nested-block expansion: the user-visible dotted names resolve
        # to the lockstep members' safe lateral aliases
        for out_name, safe in aj_renames.items():
            aj_subs[out_name] = aj_subs.get(safe, safe)
    # ---- explode-invariant hoisting: a scalar call over the
    # UN-exploded array (`countIf(has(x, 10)) … ARRAY JOIN x AS y`) is
    # constant per source row, but referencing x past the LATERAL VIEW
    # copies the whole array into every exploded row (a 1M-element
    # array × 1M rows = OOM; golden 00041).  Hoist such calls into a
    # pre-explode projection; once nothing downstream references the
    # array, Catalyst prunes it from the Generate output — the 100 TB
    # shape.  Only arrays kept visible by an EXPLICIT element alias
    # qualify (bare `ARRAY JOIN x` shadows x with the element).
    _AJ_HOIST_FNS = {
        "has", "indexOf", "countEqual", "length", "empty", "notEmpty",
    }
    if array_join_items and lateral and from_sql and not joins and not any(
        t.text == "*" for t in select_toks
    ):
        _hoist_bases = set()
        for (_alias, _expr_sql, _explicit), (_l, _item) in zip(
            exprs, array_join_items
        ):
            _it, _ = _strip_alias(_item)
            if (
                _explicit
                and len(_it) == 1
                and _it[0].kind in ("ident", "qident")
                and _alias.strip("`") != _it[0].text.strip("`")
            ):
                _hoist_bases.add(_it[0].text.strip("`"))
        _aj_names = {a.strip("`") for a, _e, _x in exprs} | set(aj_subs)
        _hoists: dict[str, str] = {}

        def _hoist_spans(toks: list[Token]) -> list[Token]:
            out = list(toks)
            i = 0
            while i < len(out):
                t = out[i]
                if (
                    t.kind == "ident"
                    and t.text in _AJ_HOIST_FNS
                    and i + 1 < len(out)
                    and out[i + 1].text == "("
                ):
                    close = _match_paren(out, i + 1)
                    span = out[i : close + 1]
                    names = {
                        tk.text.strip("`")
                        for tk in span
                        if tk.kind in ("ident", "qident")
                    }
                    if (names & _hoist_bases) and not (names & _aj_names):
                        txt = " ".join(tk.text for tk in span)
                        al = _hoists.get(txt)
                        if al is None:
                            al = ctx.gensym("ajh")
                            _hoists[txt] = al
                            _hoist_sql.append(
                                f"{_rewrite(span, ctx)} AS {al}"
                            )
                        out[i : close + 1] = [Token("ident", al)]
                i += 1
            return out

        _hoist_sql: list[str] = []
        select_items = [_hoist_spans(s) for s in select_items]
        where_toks = _hoist_spans(where_toks)
        having_toks = _hoist_spans(having_toks)
        if _hoist_sql:
            from_sql = (
                f"(SELECT *, {', '.join(_hoist_sql)} FROM {from_sql}) "
                f"{ctx.gensym('ajh')}"
            )
            ctx.current_from_sql = from_sql
    # independent arrayJoin() calls: one lateral view each (cartesian
    # replication, matching repeated FunctionArrayJoin execution)
    for alias, arg_toks in array_join_indep:
        expr_sql = _rewrite(arg_toks, ctx)
        _ip = ctx.gensym('ajpos')
        lateral_pos.append(_ip)
        lateral += (
            f" LATERAL VIEW posexplode({expr_sql}) {ctx.gensym('ajv')} "
            f"AS {_ip}, {alias}"
        )

    # ---- joins (rendered before the select list: LEFT/FULL joins
    # substitute type defaults for missing right-side values)
    # A USING column may name a SELECT alias of the left query
    # (ExpressionAnalyzer resolves USING against the select scope:
    # `SELECT x/2 AS n FROM t JOIN (...) USING n`) — materialize such
    # aliases onto the left side so Spark's USING finds the column.
    if joins and from_sql and ctx.schema_of_sql is not None:
        join_using = {
            t.text
            for j in joins
            if j["using"]
            for t in j["using"]
            if t.text != ","
        }
        if join_using:
            sel_alias_bodies: dict[str, list[Token]] = {}
            for s in select_items:
                body, al = _strip_alias(s)
                if al:
                    sel_alias_bodies[al] = body
            cand = join_using & set(sel_alias_bodies)
            if cand:
                left_schema = ctx.schema_of_sql(from_sql) or []
                left_names = {c for c, _t in left_schema}
                missing = sorted(cand - left_names)
                if missing:
                    # the alias body may itself reference sibling
                    # select aliases (normalizeTree substitution) —
                    # expand one level before materializing
                    sib = {
                        k: f"({_rewrite(b, ctx)})"
                        for k, b in sel_alias_bodies.items()
                    }
                    adds = ", ".join(
                        "{} AS {}".format(
                            _rewrite(
                                _substitute(
                                    sel_alias_bodies[c],
                                    {k: v for k, v in sib.items() if k != c},
                                ),
                                ctx,
                            ),
                            c,
                        )
                        for c in missing
                    )
                    from_sql = (
                        f"(SELECT *, {adds} FROM {from_sql}) "
                        f"AS {ctx.gensym('lj')}"
                    )
    join_sql = ""
    hint = ""
    jdef_subs: dict[str, str] = {}
    # qualified column references anywhere in this SELECT — such columns
    # must survive the duplicate-name drop in _render_join
    qrefs: set[str] = set()
    for qi in range(len(tokens) - 2):
        if (
            tokens[qi].kind in ("ident", "qident")
            and tokens[qi + 1].text == "."
            and tokens[qi + 2].kind in ("ident", "qident")
        ):
            qrefs.add(
                f"{tokens[qi].text.strip('`')}.{tokens[qi + 2].text.strip('`')}"
            )
    for j in joins:
        js, jhint = _render_join(
            j, ctx, jdef_subs, left_sql=from_sql, settings=settings,
            qualified_refs=qrefs,
        )
        join_sql += js
        hint = hint or jhint
    if (
        ctx.join_right_totals
        and not left_had_totals
        and from_sql
        and ctx.schema_of_sql is not None
    ):
        # only the RIGHT side declared WITH TOTALS: the combined totals
        # block is (left type defaults) ⊕ (right totals) — add one
        # all-NULL left row for the null-safe pairing to latch onto;
        # the output default-fill renders its columns as type defaults
        _lsch = ctx.schema_of_sql(from_sql) or []
        if _lsch:
            _nulls = ", ".join(
                f"CAST(NULL AS {t}) AS `{c}`" for c, t in _lsch
            )
            from_sql = (
                f"((SELECT * FROM {from_sql}) UNION ALL "
                f"(SELECT {_nulls})) {ctx.gensym('lt')}"
            )
            ctx.current_from_sql = from_sql
    ctx.join_right_totals = False

    def aj_subst(toks: list[Token]) -> list[Token]:
        if aj_subs:
            toks = _substitute(toks, aj_subs)
        if jdef_subs:
            # missing right-side values read as TYPE DEFAULTS, not NULL
            # (Interpreters/Join.cpp fills default values — the SURVEY
            # §7 "0/'' not NULL" hard part); WHERE runs post-join in the
            # pipeline (InterpreterSelectQuery.cpp:552-557)
            toks = _substitute(toks, jdef_subs)
        return toks

    # `SELECT *` with a JOIN expands to the LEFT table's columns only
    # (ExpressionAnalyzer normalizeTree asterisk expansion predates the
    # join's right side in this version)
    if joins and not array_join_items and ctx.schema_of_sql is not None:
        for idx, item in enumerate(select_items):
            if len(item) == 1 and item[0].text == "*":
                schema = ctx.schema_of_sql(from_sql)
                if schema:
                    select_items[idx] = [
                        Token("raw", ", ".join(f"`{c}`" for c, _t in schema))
                    ]

    # Duplicate output names collapse to the FIRST occurrence in
    # subqueries (normalizeTree folds identical-alias nodes; a Block
    # holds one column per name — 00370_duplicate_columns_in_subqueries).
    # The outermost projection keeps requested multiplicity
    # (`SELECT a, a` prints two columns — 00225).  Runs BEFORE alias
    # substitution, which would rewrite the bare duplicate references.
    if ctx.select_depth > 1 and len(select_items) > 1 and not ctx.no_select_dedup:
        alias_names: set[str] = set()
        deduped_items = []
        for s in select_items:
            body, al = _strip_alias(s)
            if al is not None:
                # duplicate alias definition folds (same AST node)
                if al.strip("`") in alias_names:
                    continue
                alias_names.add(al.strip("`"))
            elif (
                len(body) == 1
                and body[0].kind in ("ident", "qident")
                and body[0].text.strip("`") in alias_names
            ):
                # a bare reference to an earlier alias IS that node —
                # folded by normalizeTree; plain repeated column refs
                # (no alias involved) stay separate columns (00217)
                continue
            deduped_items.append(s)
        select_items = deduped_items

    # Top-level select aliases are visible query-wide in the reference
    # (normalizeTree alias substitution): `number * 2 AS number,
    # number * 10 AS j` computes j from the ALIASED number.  Substitute
    # each alias body into the OTHER select items (one level, never the
    # defining item — the body itself keeps source-column scope).
    if out_subs:
        for idx, item in enumerate(select_items):
            body, al = _strip_alias(item)
            # lambda formal parameters shadow aliases
            # (00157_aliases_and_lambda_formal_parameters)
            lam = _lambda_params(body)
            subs = {
                k: v
                for k, v in out_subs.items()
                if k != al and k not in lam
            }
            if not subs:
                continue
            new_body = _substitute(body, subs)
            if al is not None:
                new_body = new_body + [
                    Token("ident", "AS"), Token("ident", al)
                ]
            select_items[idx] = new_body

    # a bare right-side column wrapped in its join default keeps its
    # name as the output column
    if jdef_subs:
        for idx, item in enumerate(select_items):
            body, al = _strip_alias(item)
            if (
                al is None
                and len(body) == 1
                and body[0].kind == "ident"
                and body[0].text in jdef_subs
            ):
                select_items[idx] = [
                    body[0],
                    Token("ident", "AS"),
                    Token("ident", body[0].text),
                ]

    # runningAccumulate nested INSIDE an aggregate (e.g.
    # sum(length(runningAccumulate(x))), 00410): the running window
    # must evaluate per stream row BEFORE the aggregate — hoist it
    # into an inner projection carrying the hidden scan ordinal
    if ctx.select_depth == 1 and not group_toks and from_sql:
        _run_exprs: list[str] = []
        for idx, item in enumerate(select_items):
            if not _item_has_agg(item):
                continue
            pos = _find_call(item, "runningAccumulate")
            if pos is None:
                continue
            s0, e0, _run_args = pos
            _ral = ctx.gensym("runacc")
            _run_exprs.append(
                f"{_rewrite(item[s0:e0], ctx)} AS {_ral}"
            )
            select_items[idx] = (
                item[:s0] + [Token("ident", _ral)] + item[e0:]
            )
        if _run_exprs:
            from_sql = (
                f"(SELECT *, {', '.join(_run_exprs)} FROM "
                f"(SELECT *, monotonically_increasing_id() AS __sid0 "
                f"FROM {from_sql}) __rsrc) __rwrap"
            )
            # the hoisted aliases are visible columns now — let the
            # array/string polymorphic dispatch (length/empty) probe
            # their types from the wrapped subquery
            ctx.current_from_sql = from_sql
    # a bare Nested-member reference of an aliased ARRAY JOIN
    # (`SELECT m.k1 ... ARRAY JOIN FirstMap AS m`) keeps its visible
    # dotted name as the OUTPUT alias so ORDER BY `m.k1` (output
    # scope) resolves after the element_at substitution (00327)
    select_sql_items = []
    for s in select_items:
        rendered = _rewrite_select_item(aj_subst(s), ctx)
        if (
            len(s) == 1
            and s[0].kind in ("ident", "qident")
            and (
                s[0].text.strip("`") in aj_out_names
                # a bare lockstep ARRAY JOIN alias (arrayEnumerate(arr)
                # AS n) substitutes to its element_at expression — keep
                # the visible name so output-scope ORDER BY resolves
                # (golden 00105)
                or s[0].text.strip("`") in aj_subs
            )
            and " AS " not in rendered
        ):
            rendered = f"{rendered} AS `{s[0].text.strip('`')}`"
        select_sql_items.append(rendered)
        # record -State-producing aliases for finalizeAggregation /
        # (the hidden key64 rank item is appended after this loop)
        # runningAccumulate over inline subquery states (00410)
        _b, _al = _strip_alias(s)
        if (
            _al
            and _b
            and _b[0].kind == "ident"
            and _b[0].text.endswith("State")
            and len(_b) > 1
            and _b[1].text == "("
        ):
            ctx.state_fn_of[_al.strip('`')] = _b[0].text[: -len("State")]
    if _k64_ord is not None:
        # hidden first-occurrence rank for the key64-order wrapper;
        # EXCEPTed back out post-assembly
        select_sql_items.append(f"min({_k64_ord}) AS __k64rank")
    # record inferred CH output types for this SELECT — scalar
    # subqueries inside the items above already ran (and overwrote),
    # so the assignment here leaves the OUTERMOST select's types in
    # place when translation finishes
    if any(len(s) == 1 and s[0].text == "*" for s in select_items):
        ctx.out_ch_types = _out_types = None
        ctx.out_ch_names = _out_names = None
    else:
        ctx.out_ch_types = _out_types = [
            _infer_expr_ch_type(_strip_alias(s)[0], ctx)
            for s in select_items
        ]
        ctx.out_ch_names = _out_names = [
            _ch_item_name(s) for s in select_items
        ]
        for p in aj_post:
            _idx, _orig_name, _orig_toks = p[0], p[5], p[6]
            _out_names[_idx] = _orig_name
            _out_types[_idx] = _infer_expr_ch_type(_orig_toks, ctx)
    where_parts: list[str] = []
    if prewhere_toks:
        # PREWHERE runs at scan time, before the join — no jdef subs
        pw = _substitute(prewhere_toks, aj_subs) if aj_subs else prewhere_toks
        where_parts.append(f"({_boolify(pw, _rewrite(pw, ctx))})")
    if where_toks:
        w = aj_subst(where_toks)
        where_parts.append(f"({_boolify_where(w, ctx)})")

    # ---- SAMPLE → hash-range predicate on the registered sampling key
    # parallel_replicas_count without an explicit SAMPLE clause slices
    # the FULL key range — each replica reads a disjoint portion
    # (MergeTreeDataSelectExecutor applies relative sampling 1.0 split
    # across replicas; golden 00193)
    if (
        not sample_toks
        and int(str(settings.get("parallel_replicas_count", 0) or 0)) > 1
        and table_name
        and (ctx.table_meta.get(table_name) is not None)
        and ctx.table_meta[table_name].sample_key is not None
    ):
        sample_toks = [Token("number", "1")]
    if sample_toks:
        meta = ctx.table_meta.get(table_name or "")
        if meta is None or meta.sample_key is None:
            raise ValueError(f"SAMPLE needs a registered sample_key for table {table_name!r}")
        width = None
        if meta.sample_raw and ctx.tabledef_of is not None:
            td = ctx.tabledef_of(table_name)
            if td is not None:
                for c in td.columns:
                    if c.name == meta.sample_key:
                        width = {
                            "UInt8": 256, "UInt16": 65536,
                            "UInt32": 4294967296,
                            "UInt64": 18446744073709551616,
                        }.get((c.ch_type or "").split("(")[0])
        key_sql = meta.sample_key
        if not str(key_sql).isidentifier():
            # EXPRESSION sampling key — intHash64(x) (golden 00314)
            key_sql = _rewrite(tokenize(meta.sample_key), ctx)
            if width is None:
                width = {
                    "intHash32": 1 << 32,
                    "intHash64": 1 << 64,
                    "cityHash64": 1 << 64,
                    "sipHash64": 1 << 64,
                }.get(meta.sample_key.split("(")[0].strip())
        _stxt = [t.text for t in sample_toks]
        _is_abs = (
            "/" not in _stxt
            and not any(t.upper() == "OFFSET" for t in _stxt)
            and len(_stxt) >= 1
            and float(_stxt[0]) > 1
        )
        if _is_abs and width is not None and from_sql:
            # SAMPLE <n> (absolute row target): coefficient n / total,
            # realized as a key-range cut; the _sample_factor virtual
            # column is total / actually-sampled, so sums re-estimate
            # the full table exactly (MergeTreeDataSelectExecutor
            # relative_sample_size from approx row count — golden
            # 00314).  Fidelity path: two global-count windows.
            _N = _stxt[0]
            from_sql = (
                f"(SELECT *, __smpl_tot / CAST(count(*) OVER () AS DOUBLE) "
                f"AS `_sample_factor` FROM (SELECT * FROM "
                f"(SELECT *, CAST(count(*) OVER () AS DOUBLE) AS __smpl_tot "
                f"FROM {from_sql}) {ctx.gensym('sm')} "
                f"WHERE CAST({key_sql} AS DOUBLE) < "
                f"({_N} / __smpl_tot) * {float(width)}) "
                f"{ctx.gensym('sm')}) {ctx.gensym('sm')}"
            )
            ctx.current_from_sql = from_sql
        else:
            _prc = int(str(settings.get("parallel_replicas_count", 1) or 1))
            _pro = int(str(settings.get("parallel_replica_offset", 0) or 0))
            where_parts.append(
                _sample_predicate(
                    sample_toks, key_sql, ctx, width,
                    replicas=(_prc, _pro),
                )
            )

    if group_toks:
        # the reference has NO positional GROUP BY: a bare integer
        # literal groups by the CONSTANT (one group, any value —
        # 00257_shard_no_aggregates_and_constant_keys); `n + 0` defeats
        # Spark's ordinal-resolution rule while staying constant.  A
        # group item naming a select alias whose body is a literal is
        # the same case — substituting the body also keeps the SELECT
        # output a plain literal, which Spark then does NOT null in the
        # totals grouping-set row (the reference keeps constants there).
        lit_aliases: dict[str, Token] = {}
        for s in select_items:
            body, al = _strip_alias(s)
            if al and len(body) == 1 and body[0].kind in ("number", "string"):
                lit_aliases[al] = body[0]
        fixed: list[Token] = []
        for gi, it in enumerate(_split_top(group_toks, ",")):
            if gi:
                fixed.append(Token("punct", ","))
            if (
                len(it) == 1
                and it[0].kind == "ident"
                and it[0].text in lit_aliases
            ):
                it = [lit_aliases[it[0].text]]
            fixed.extend(it)
            if len(it) == 1 and it[0].kind == "number":
                fixed.extend([Token("punct", "+"), Token("number", "0")])
        group_toks = fixed
    group_sql = _rewrite_list(aj_subst(group_toks), ctx) if group_toks else ""
    having_sql = (
        _boolify(aj_subst(having_toks), _rewrite(aj_subst(having_toks), ctx))
        if having_toks
        else ""
    )

    # ---- max_rows_to_group_by + group_by_overflow_mode='any'
    # (Limits.h; Aggregator::executeOnBlock checks the hash-table size
    # AFTER each max_block_size block — once it exceeds the cap, later
    # blocks admit NO new keys while rows of admitted keys keep
    # aggregating).  Emulated relationally: first-block per key,
    # cumulative distinct keys per block, cutoff = first block whose
    # cumulative count crosses the cap; __gb_ok marks rows of admitted
    # keys and drives the totals_mode variants below
    # (TotalsHavingBlockInputStream addToTotals overflow handling —
    # goldens 00104/00107).  Settings-gated fidelity emulation: the
    # wrap costs two windows + a tiny cross join, only when asked for.
    _gb_cap = settings.get("max_rows_to_group_by")
    gb_flagged = False
    if (
        _gb_cap
        and str(_gb_cap).isdigit()
        and int(_gb_cap) > 0
        and group_toks
        and settings.get("group_by_overflow_mode") == "any"
        and from_sql
        and not joins
        and not any(len(s) == 1 and s[0].text == "*" for s in select_items)
    ):
        _N = int(_gb_cap)
        _B = int(str(settings.get("max_block_size", 65536)))
        _suba: dict[str, str] = {}
        for s in select_items:
            body, al = _strip_alias(s)
            if al:
                _suba[al] = f"({_rewrite(aj_subst(body), ctx)})"
        _key_sql = _rewrite_list(
            aj_subst(_substitute(group_toks, _suba)), ctx
        )
        if "rand(" in _key_sql:
            # non-deterministic grouping key: the admitted-key set is
            # not reconstructible (each evaluation re-rolls), and Spark
            # rejects rand() inside the emulation's count(DISTINCT);
            # keep the limit advisory as before (golden 00263)
            _key_sql = None
        if _key_sql is not None:
            _rn = (
                "CAST(row_number() OVER "
                "(ORDER BY monotonically_increasing_id()) AS BIGINT) - 1"
            )
            _s3 = (
                f"(SELECT *, min(__gbb) OVER (PARTITION BY {_key_sql}) "
                f"AS __gbkb "
                f"FROM (SELECT *, CAST(floor(__gbrn / {_B}) AS BIGINT) "
                f"AS __gbb "
                f"FROM (SELECT *, {_rn} AS __gbrn FROM {from_sql}) "
                f"{ctx.gensym('gb')}) {ctx.gensym('gb')}) {ctx.gensym('gb')}"
            )
            _cut = (
                f"(SELECT min(CASE WHEN __gbck > {_N} THEN __gbcb END) "
                f"AS __gbcut "
                f"FROM (SELECT __gbcb, sum(__gbnk) OVER (ORDER BY __gbcb) "
                f"AS __gbck "
                f"FROM (SELECT __gbkb AS __gbcb, "
                f"count(DISTINCT {_key_sql}) AS __gbnk "
                f"FROM {_s3} GROUP BY __gbkb) {ctx.gensym('gb')}) "
                f"{ctx.gensym('gb')})"
            )
            from_sql = (
                f"(SELECT * EXCEPT (__gbcut), (__gbkb <= coalesce(__gbcut, "
                f"CAST(9223372036854775807 AS BIGINT))) AS __gb_ok "
                f"FROM {_s3} CROSS JOIN {_cut} {ctx.gensym('gb')}) "
                f"{ctx.gensym('gb')}"
            )
            ctx.current_from_sql = from_sql
            gb_flagged = True
    # ORDER BY scopes over the output projection — select aliases resolve
    # there, so array-join substitution must NOT apply (it would name a
    # pre-aggregation column that no longer exists above a GROUP BY).
    order_items = _order_items(order_toks, ctx) if order_toks else []
    order_sql = ", ".join(e + d for e, d in order_items)

    # (joins were rendered above, before the select list)

    # ---- assemble core
    # WITH TOTALS + ORDER BY / LIMIT: the reference sorts and limits the
    # GROUP rows only, then appends the totals row as a separate block
    # (TotalsHavingBlockInputStream.h).  Emulate by tagging rows with
    # grouping_id(), limiting via a per-tag row_number window, and
    # sorting totals last.  Order expressions are materialized as hidden
    # aliased columns so aggregate expressions in ORDER BY stay valid in
    # the outer scope.
    # The wrap also fires with no ORDER BY/LIMIT: output formats place
    # the totals row in its own block AFTER the group rows (TabSeparated
    # writes an empty separator line — TabSeparatedBlockOutputStream
    # writeTotals), so totals-last ordering is part of the contract.
    totals_wrap = with_totals and bool(group_sql) and limit_by is None
    # keyless WITH TOTALS: the reference's totals row carries only
    # aggregate values — every non-aggregate output column is written
    # as its type default (TotalsHavingBlockInputStream addToTotals
    # touches aggregate states only; constants evaluate under Spark's
    # GROUPING SETS, so the formatter must force the defaults)
    if with_totals and not group_toks:
        ctx.totals_default_cols = [
            idx
            for idx, s in enumerate(select_items)
            if not _item_has_agg(_strip_alias(s)[0])
        ]
    else:
        ctx.totals_default_cols = None
    # constant output columns (extremes render the value itself)
    const_positions: list[int] = []
    known_const: set[str] = set()
    for idx, s in enumerate(select_items):
        body, al = _strip_alias(s)
        if _item_is_const(body, known_const):
            const_positions.append(idx)
            if al:
                known_const.add(al)
    ctx.out_const_cols = const_positions
    gsym = ctx.gensym("gid") if totals_wrap else None
    wrap_order: list[tuple[str, str]] = []  # (outer column ref, dir)
    if totals_wrap:
        # Output-scope aliases: ORDER BY resolves against the selected
        # columns; a bare alias reuses the output column directly (no
        # hidden column — referencing a sibling alias inside the
        # aggregate would be a lateral alias ref Spark rejects under
        # grouping sets).  Non-trivial expressions become hidden aliased
        # columns with select aliases substituted by their bodies.
        sel_aliases: dict[str, list[Token]] = {}
        for s in select_items:
            body, al = _strip_alias(s)
            if al:
                sel_aliases[al] = body
            elif len(body) == 1 and body[0].kind in ("ident", "qident"):
                sel_aliases[body[0].text] = body
        alias_subs = {
            a: f"({_rewrite(aj_subst(b), ctx)})" for a, b in sel_aliases.items()
        }
        hidden: list[str] = []
        for item in _split_top(order_toks, ","):
            item, direction = _order_direction(item)
            if len(item) == 1 and item[0].kind in ("ident", "qident") and item[0].text in sel_aliases:
                wrap_order.append((item[0].text, direction))
                continue
            expr = _rewrite(aj_subst(_substitute(item, alias_subs)), ctx)
            name = f"{gsym}_o{len(hidden)}"
            hidden.append(f"{expr} AS {name}")
            wrap_order.append((name, direction))
        select_sql_items = select_sql_items + [f"grouping_id() AS {gsym}"] + hidden

    # WITH TOTALS + HAVING: the reference default totals_mode =
    # AFTER_HAVING_EXCLUSIVE (Interpreters/Settings.h:92) aggregates the
    # totals row over only the groups that pass HAVING
    # (TotalsHavingBlockInputStream.h addToTotals with the HAVING filter).
    # Emulate by restricting the input to rows of passing groups — a
    # keyed-agg subquery + tuple-IN semi join — then running the plain
    # GROUPING SETS, which then needs no HAVING at all.  before_having
    # (SETTINGS totals_mode='before_having') keeps the single-pass shape
    # with HAVING applied to group rows only.
    totals_mode = settings.get("totals_mode", "after_having_exclusive")
    if with_totals and totals_mode in (
        "after_having_inclusive",
        "after_having_auto",
    ):
        # the three after_having_* modes differ ONLY in whether
        # overflow aggregates (groups dropped by max_rows_to_group_by)
        # are added back to totals (TotalsHavingBlockInputStream.cpp:
        # 57-67, 129-132) — without the __gb_ok emulation there are no
        # overflow rows, so all three reduce to the exclusive path.
        # With it, `auto` approximates the runtime passed-fraction
        # threshold: no HAVING passes every group (fraction 1 >=
        # any threshold -> inclusive); with a HAVING we take the
        # exclusive branch (fractions above totals_auto_threshold
        # with overflow active are unusual — documented deviation).
        if not gb_flagged:
            totals_mode = "after_having_exclusive"
        elif totals_mode == "after_having_auto":
            totals_mode = (
                "after_having_exclusive"
                if having_sql
                else "after_having_inclusive"
            )
    if with_totals and totals_mode not in (
        "after_having_exclusive",
        "after_having_inclusive",
        "before_having",
    ):
        raise ValueError(f"unsupported totals_mode {totals_mode!r}")
    # group rows that must be hidden when overflow rows ride along to
    # feed the totals block (dropped-key groups exist only for totals)
    gb_group_guard = ""
    if gb_flagged:
        if not with_totals or totals_mode == "after_having_exclusive":
            # only admitted keys aggregate; overflow rows are dropped
            # entirely (and so never reach the totals row either)
            where_parts = where_parts + ["__gb_ok"]
        else:
            # inclusive / before_having: overflow rows stay in the
            # source so GROUPING SETS' () row absorbs them; their
            # spurious key-groups are filtered post-agg
            gb_group_guard = "bool_and(__gb_ok)"
    if (
        with_totals
        and group_sql
        and having_sql
        and totals_mode in ("after_having_exclusive", "after_having_inclusive")
    ):
        # The subquery lives at WHERE scope — select-output aliases
        # (which Spark resolves in GROUP BY / HAVING of the outer
        # query) do not exist there, so substitute them by their bodies.
        sub_aliases: dict[str, str] = {}
        for s in select_items:
            body, al = _strip_alias(s)
            if al:
                sub_aliases[al] = f"({_rewrite(aj_subst(body), ctx)})"
        g_toks = aj_subst(_substitute(group_toks, sub_aliases))
        group_sub = _rewrite_list(g_toks, ctx)
        h_toks = aj_subst(_substitute(having_toks, sub_aliases))
        having_sub = _boolify(h_toks, _rewrite(h_toks, ctx))
        sub = f"SELECT {group_sub}\nFROM {from_sql}{lateral}{join_sql}"
        sub_where = list(where_parts)
        if gb_flagged and "__gb_ok" not in sub_where:
            sub_where.append("__gb_ok")  # passing groups among admitted keys
        if sub_where:
            sub += "\nWHERE " + " AND ".join(sub_where)
        sub += f"\nGROUP BY {group_sub}\nHAVING {having_sub}"
        pred = f"({group_sub}) IN (\n{sub}\n)"
        if totals_mode == "after_having_inclusive":
            # overflow rows bypass the passing-groups filter: they feed
            # only the totals row (addToTotals includes overflow data)
            pred = f"((NOT __gb_ok) OR {pred})"
        where_parts = where_parts + [pred]
        having_sql = ""
    # Top-level unordered DISTINCT keeps the reference's FIRST-SEEN
    # order (DistinctBlockInputStream streams over the scan): emulate
    # with a min(monotonic id) group + sort, which follows partition
    # (scan) order.  Ordered/limited/grouped forms keep plain DISTINCT.
    # (a LIMIT does not break the emulation — the wrapper sorts by the
    # first-seen id and the LIMIT applies after it, exactly like the
    # reference's streaming DISTINCT feeding a Limit — golden 00326)
    first_seen_distinct = (
        distinct
        and ctx.select_depth == 1
        and limit_by is None
        and not order_items
        and not group_toks
        and not with_totals
        and not any(len(s) == 1 and s[0].text == "*" for s in select_items)
        # with a LIMIT, skip the emulation over the unbounded
        # system.numbers stream: the min-id group would aggregate the
        # whole 2^27-row range where plain DISTINCT short-circuits
        # (00154); bounded/real tables keep the faithful order (00326)
        and not (
            limit_txt is not None
            and from_sql is not None
            and "range(0, 134217728" in from_sql
        )
    )
    # an IN-subquery in WHERE becomes a (semi) join in Spark and loses
    # the scan order the reference's streaming filter keeps; for an
    # unordered plain top-level SELECT, read through a hidden scan
    # ordinal and sort the output by it (00294's `e IN (SELECT ...)`)
    _has_in_probe = any(
        w.is_kw("IN")
        and k + 1 < len(where_toks)
        and (
            # IN (SELECT ...) subquery
            (
                k + 2 < len(where_toks)
                and where_toks[k + 1].text == "("
                and where_toks[k + 2].is_kw("SELECT")
            )
            # IN table (StorageSet / any table probe)
            or where_toks[k + 1].kind in ("ident", "qident")
        )
        for k, w in enumerate(where_toks)
    )
    scan_ordinal = (
        ctx.select_depth == 1
        and not order_items
        and not group_toks
        and not distinct
        and not with_totals
        and from_sql is not None
        # never scan-ordinal the UNBOUNDED numbers stream (the hidden
        # id would walk all 2^27 rows); an inner LIMIT bounds it
        and not (
            "range(0, 134217728" in from_sql
            and "LIMIT" not in from_sql.upper()
        )
        and not any(_item_has_agg(s) for s in select_items)
        and (
            (not joins and _has_in_probe)
            # top-level unordered JOIN output: the reference's hash
            # join emits LEFT rows in PROBE (scan) order — pin with
            # the left side's hidden ordinal (00119's `s, x` output
            # has no ascending column to lean on).  RIGHT/FULL joins
            # emit unmatched build rows with no probe ordinal — those
            # keep the all-ordinals pin below.
            or (
                joins
                and limit_txt is None
                and not any(
                    m in ("RIGHT", "FULL") for j in joins for m in j.get("mods", [])
                )
            )
            # running* functions window over the stream order — they
            # reference the __sid0 ordinal directly
            or any(
                t.kind == "ident"
                and t.text in ("runningAccumulate", "runningDifference")
                for s in select_items
                for t in s
            )
        )
    )
    if _blk_wrap is not None and _blk_wrap[2] and not where_parts:
        # the filter folded away — annotate the size in place
        from_sql = (
            f"(SELECT *, count(*) OVER (PARTITION BY __blk) AS __bsz "
            f"FROM {from_sql} ) {ctx.gensym('bw')}"
        )
    elif _blk_wrap is not None and _blk_wrap[2] and where_parts:
        # blockSize() is the POST-FILTER block size: the WHERE actions
        # run per scanned block and the SELECT sees the filtered block
        # (FilterBlockInputStream; golden 00167's WHERE number IN …
        # yields 61/62-row blocks from 123-row scans)
        _in = (
            f"SELECT * FROM {from_sql}{lateral}{join_sql}\nWHERE "
            + " AND ".join(where_parts)
        )
        from_sql = (
            f"(SELECT *, count(*) OVER (PARTITION BY __blk) AS __bsz "
            f"FROM (\n{_in}\n) {ctx.gensym('bw')}) {ctx.gensym('bw')}"
        )
        lateral = ""
        join_sql = ""
        where_parts = []
    sql = "SELECT "
    if hint:
        sql += f"/*+ {hint} */ "
    if distinct and not first_seen_distinct:
        sql += "DISTINCT "
    if first_seen_distinct:
        sql += ", ".join(
            select_sql_items + ["monotonically_increasing_id() AS __did"]
        )
    elif scan_ordinal:
        sql += ", ".join(
            (
                "* EXCEPT (__sid0)"
                if it.strip() == "*"
                else it
            )
            for it in select_sql_items
        )
    else:
        sql += ", ".join(select_sql_items)
    if from_sql:
        if scan_ordinal:
            sql += (
                f"\nFROM (SELECT *, monotonically_increasing_id() AS __sid0 "
                f"FROM {from_sql}) __sidsrc{lateral}{join_sql}"
            )
        else:
            sql += f"\nFROM {from_sql}{lateral}{join_sql}"
    if where_parts:
        sql += "\nWHERE " + " AND ".join(where_parts)
    if group_sql:
        if with_totals:
            sql += f"\nGROUP BY GROUPING SETS (({group_sql}), ())"
            _grd = [g for g in (gb_group_guard, having_sql) if g]
            if _grd:
                _gx = (
                    _grd[0]
                    if len(_grd) == 1
                    else " AND ".join(f"({g})" for g in _grd)
                )
                sql += f"\nHAVING grouping_id() <> 0 OR ({_gx})"
        else:
            sql += f"\nGROUP BY {group_sql}"
            if _dgb_col:
                sql += f", {_dgb_col}"
            if having_sql:
                sql += f"\nHAVING {having_sql}"
    elif with_totals:
        sql += "\nGROUP BY GROUPING SETS ((), ())"
        if having_sql:
            sql += f"\nHAVING grouping_id() <> 0 OR ({having_sql})"
    elif (
        ctx.select_depth == 1
        and any(_item_has_agg(s) for s in select_items)
    ):
        # keyless aggregation over an EMPTY input yields NO rows in
        # the reference (the aggregating stream emits nothing without
        # input blocks) — Spark's global aggregate would emit one;
        # a constant grouping key reproduces the empty-in/empty-out
        # while keeping map-side partial aggregation.  Under
        # distributed_group_by_no_merge the hidden shard ordinal is
        # the key: one result row PER SHARD (00184)
        sql += f"\nGROUP BY {_dgb_col}" if _dgb_col else "\nGROUP BY CAST(1 AS BOOLEAN)"
        if having_sql:
            sql += f"\nHAVING {having_sql}"
    elif having_sql:
        sql += f"\nHAVING {having_sql}"

    # ---- post-aggregation arrayJoin wrap: explode the aggregated
    # result block (FunctionArrayJoin in the final ExpressionActions)
    if aj_post:
        schema = (
            ctx.schema_of_sql(f"(\n{sql}\n)")
            if ctx.schema_of_sql is not None
            else None
        )
        if schema is not None:
            hole_of = {
                f"__ajph{p[0]}": p for p in aj_post
            }
            done_alias: set[str] = set()
            lat = ""
            for p in aj_post:
                _idx, alias, arg_toks = p[0], p[1], p[2]
                if alias in done_alias:
                    continue
                done_alias.add(alias)
                lat += (
                    f" LATERAL VIEW posexplode({_rewrite(arg_toks, ctx)}) "
                    f"{ctx.gensym('ajv')} AS {ctx.gensym('ajpos')}, "
                    f"`{alias}`"
                )
            cols = []
            for cname, _t in schema:
                if cname in hole_of:
                    p = hole_of[cname]
                    cols.append(
                        f"{_rewrite(p[4], ctx)} AS `{p[3]}`"
                    )
                else:
                    cols.append(f"`{cname}`")
            sql = (
                f"SELECT {', '.join(cols)} FROM (\n{sql}\n) "
                f"AS {ctx.gensym('ajag')}{lat}"
            )

    # ---- LIMIT BY wrap (after ORDER BY in the reference pipeline,
    #      InterpreterSelectQuery.cpp:661)
    if limit_by is not None:
        lim, off, by_cols = limit_by
        by_sql = _rewrite_list(aj_subst(subst(by_cols)), ctx)
        win_order = order_sql if order_sql else by_sql
        rn = ctx.gensym("rn")
        sql = (
            f"SELECT * EXCEPT ({rn}) FROM (\n"
            f"SELECT *, row_number() OVER (PARTITION BY {by_sql} ORDER BY {win_order}) AS {rn}\n"
            f"FROM (\n{sql}\n)\n) WHERE {rn} > {off} AND {rn} <= {off} + {lim}"
        )

    if totals_wrap:
        helpers = [gsym] + [r for r, _ in wrap_order if r.startswith(f"{gsym}_o")]
        o_refs = ", ".join(f"{r}{d}" for r, d in wrap_order)
        ctx.pre_limit_sql = (
            f"SELECT 1 FROM (\n{sql}\n) WHERE {gsym} = 0"
            if limit_txt is not None
            else None
        )
        if limit_txt is not None:
            rn = f"{gsym}_rn"
            win = o_refs if order_items else gsym
            sql = (
                f"SELECT *, row_number() OVER (PARTITION BY {gsym} "
                f"ORDER BY {win}) AS {rn} FROM (\n{sql}\n)"
            )
            off = offset_txt or "0"
            helpers.append(rn)
            cond = f"{gsym} <> 0 OR ({rn} > {off} AND {rn} <= {off} + ({limit_txt}))"
            sql = f"SELECT * EXCEPT ({', '.join(helpers)}) FROM (\n{sql}\n) WHERE {cond}"
        else:
            sql = f"SELECT * EXCEPT ({', '.join(helpers)}) FROM (\n{sql}\n)"
        sql += f"\nORDER BY {gsym}" + (f", {o_refs}" if o_refs else "")
        ctx.block_fns_b = _saved_block_b
        ctx.block_starts_sql = _saved_block_starts
        ctx.block_granule = _saved_block_g
        ctx.group_array_ord = _saved_ga_ord
        ctx.has_prev_flags = _saved_hpf
        return sql
    if first_seen_distinct:
        sql = (
            f"SELECT * EXCEPT (__dmin) FROM (\n"
            f"SELECT * EXCEPT (__did), min(__did) AS __dmin FROM (\n{sql}\n"
            f") AS __dsub GROUP BY ALL\n) ORDER BY __dmin"
        )
    if order_sql:
        sql += f"\nORDER BY {order_sql}"
    elif scan_ordinal:
        _sid_keys = ["__sid0"] + lateral_pos
        if joins:
            # an ALL join emits several matches per probed left row in
            # build order — the golden corpus's right sides are
            # ascending streams, so the output ordinals break the tie
            _sid_keys += [
                str(k + 1) for k in range(len(select_sql_items))
            ]
        sql += "\nORDER BY " + ", ".join(_sid_keys)
    elif (
        ctx.select_depth == 1
        and joins
        and not first_seen_distinct
        and limit_txt is None
        and not any(len(s) == 1 and s[0].text == "*" for s in select_items)
        and not group_sql
    ):
        # Unordered top-level join/DISTINCT output: the reference's
        # hash join emits left rows in probe order (matches in build
        # order) and DISTINCT preserves the PK-sorted scan order —
        # deterministic where Spark's shuffle is not.  The corpus's
        # unordered cases read as all-columns-ascending (probe inputs
        # are ordered streams), so pin that order by ordinal.
        sql += "\nORDER BY " + ", ".join(
            str(k + 1) for k in range(len(select_sql_items))
        )
    elif (
        ctx.select_depth == 1
        and group_toks
        and not with_totals
        and len(_split_top(group_toks, ",")) == 1
    ):
        # single 8/16-bit (or Enum) grouping key: the reference
        # aggregates into a FIXED ARRAY (Aggregator.cpp keys8/keys16)
        # and iterates it in UNSIGNED key order — deterministic where
        # Spark's hash output is not.  Pin that order.
        _gk = _split_top(group_toks, ",")[0]
        _gt = _infer_expr_ch_type(_gk, ctx) or ""
        _width = {
            "UInt8": 256, "Int8": 256, "Enum8": 256,
            "UInt16": 65536, "Int16": 65536, "Enum16": 65536,
        }.get(_gt.split("(")[0])
        if _width is not None:
            if _gt.startswith("Enum"):
                _kv = _enum_value_sql(group_sql, _gt)
            else:
                _kv = f"CAST({group_sql} AS BIGINT)"
            if _kv is not None:
                sql += f"\nORDER BY pmod({_kv}, {_width})"
    elif (
        ctx.select_depth == 1
        and group_toks
        and not with_totals
        and not gb_flagged
        and limit_by is None
        and limit_txt is None
        and len(_split_top(group_toks, ",")) >= 2
    ):
        # MULTI fixed-numeric-key grouping with total width <= 16: the
        # reference uses the keys128 method — HashMap<UInt128,
        # UInt128HashCRC32> — and emits groups in HASH-TABLE bucket
        # order (golden 00120).  When every key is a visible output
        # column, replay the table (exact_hash.keys128_slot_order
        # via the ch_k128_slot Arrow UDF over the collected key set —
        # fidelity path: one global window over the GROUP rows).
        _K128_W = {
            "UInt8": 1, "Int8": 1, "UInt16": 2, "Int16": 2,
            "UInt32": 4, "Int32": 4, "UInt64": 8, "Int64": 8,
        }
        _gitems = _split_top(group_toks, ",")
        _alias_of: dict[str, str] = {}
        for s in select_items:
            body, al = _strip_alias(s)
            btxt = " ".join(t.text for t in body)
            if al:
                _alias_of[al] = al
                _alias_of[btxt] = al
            elif len(body) == 1 and body[0].kind in ("ident", "qident"):
                _alias_of[btxt] = body[0].text
        _bits, _widths = [], []
        for it in _gitems:
            itxt = " ".join(t.text for t in it)
            col = _alias_of.get(itxt)
            w = _K128_W.get((_infer_expr_ch_type(it, ctx) or "").split("(")[0])
            if col is None or w is None:
                _bits = None
                break
            t_ = (_infer_expr_ch_type(it, ctx) or "")
            if t_ == "UInt64":
                _bits.append(
                    f"CAST(CAST(`{col}` AS DECIMAL(21, 0)) - (CASE WHEN "
                    f"`{col}` >= 9223372036854775808 THEN "
                    f"CAST(18446744073709551616 AS DECIMAL(21, 0)) "
                    f"ELSE 0 END) AS BIGINT)"
                )
            else:
                _bits.append(f"CAST(`{col}` AS BIGINT)")
            _widths.append(w)
        if _bits is not None and sum(_widths) <= 16:
            _karr = "array(" + ", ".join(_bits) + ")"
            _warr = "array(" + ", ".join(str(w) for w in _widths) + ")"
            sql = (
                f"SELECT * EXCEPT (__aggord) FROM (\n"
                f"SELECT *, ch_k128_slot(collect_list({_karr}) OVER (), "
                f"{_karr}, {_warr}) AS __aggord FROM (\n{sql}\n)\n"
                f") ORDER BY __aggord"
            )
    if _k64_ord is not None:
        # key32/key64 hash-table output order (see the annotation
        # above): order by the replayed slot, or just strip the
        # hidden rank when an explicit ORDER BY wins anyway
        if not order_sql and _k64_type and _k64_col:
            _c = f"`{_k64_col}`"
            _bits = {
                "Float64": f"ch_f64_bits({_c})",
                "Float32": f"ch_f32_bits({_c})",
                "Int64": f"CAST({_c} AS BIGINT)",
                "Int32": f"(CAST({_c} AS BIGINT) & 4294967295)",
                "UInt32": f"CAST({_c} AS BIGINT)",
                "UInt64": (
                    f"CAST(CAST({_c} AS DECIMAL(21, 0)) - (CASE WHEN "
                    f"{_c} >= 9223372036854775808 THEN "
                    f"CAST(18446744073709551616 AS DECIMAL(21, 0)) "
                    f"ELSE 0 END) AS BIGINT)"
                ),
            }[_k64_type]
            sql = (
                f"SELECT * EXCEPT (__k64rank, __aggord) FROM (\n"
                f"SELECT *, ch_k64_slot(collect_list("
                f"struct(__k64rank, {_bits})) OVER (), {_bits}) "
                f"AS __aggord FROM (\n{sql}\n)\n"
                f") ORDER BY __aggord"
            )
        else:
            # unreachable in the normal flow (the annotation requires
            # no ORDER BY) — strip the hidden rank defensively
            sql = f"SELECT * EXCEPT (__k64rank) FROM (\n{sql}\n)"
    if (
        limit_txt is not None
        and from_totals_here
        and not with_totals
        and offset_txt is None
    ):
        # pass-through totals under LIMIT: the limit cuts DATA rows
        # only — the out-of-band totals block is forwarded untouched
        # (golden 00220: SELECT x FROM (… WITH TOTALS) LIMIT 1 keeps
        # both the first data row and the totals row).  The totals row
        # is the stream's LAST row; keep first-N plus last.
        ctx.pre_limit_sql = sql
        _pt = ctx.gensym("pt")
        sql = (
            f"SELECT * EXCEPT (__ptrn, __ptn) FROM (\n"
            f"SELECT *, row_number() OVER "
            f"(ORDER BY monotonically_increasing_id()) AS __ptrn, "
            f"count(*) OVER () AS __ptn FROM (\n{sql}\n) {_pt}\n"
            f") WHERE __ptrn = __ptn OR __ptrn <= ({limit_txt})\n"
            f"ORDER BY __ptrn"
        )
        ctx.sub_limited_sql = sql
    elif limit_txt is not None:
        ctx.pre_limit_sql = sql
        ctx.limit_block_rows = None
        if (
            not first_seen_distinct
            and not where_parts
            and not group_toks
            and not having_toks
            and not order_items
            and limit_by is None
            and not with_totals
            and not any(_item_has_agg(s) for s in select_items)
            and str(limit_txt).strip().isdigit()
            and (offset_txt is None or str(offset_txt).strip().isdigit())
        ):
            # plain streaming limit: the reference reads blocks of
            # exactly limit+offset rows (InterpreterSelectQuery.cpp
            # "Optimization - if not specified DISTINCT, WHERE, …")
            ctx.limit_block_rows = int(str(limit_txt).strip()) + int(
                str(offset_txt).strip() if offset_txt is not None else 0
            )
        sql += f"\nLIMIT {limit_txt}"
        if offset_txt is not None:
            sql += f" OFFSET {offset_txt}"
        # a later outer SELECT without LIMIT reports rows through this
        # limit (RowsBeforeLimitCounter attaches to any limit in the
        # pipeline — "at_least" semantics)
        ctx.sub_limited_sql = sql
    else:
        ctx.pre_limit_sql = ctx.sub_limited_sql
    # re-assert this SELECT's output metadata: subqueries translated
    # in WHERE/HAVING/ORDER clauses above overwrote ctx.out_ch_* with
    # THEIR select lists; the enclosing (later-returning) SELECT must
    # win so the formatter sees the outermost names/types
    if any(len(s) == 1 and s[0].text == "*" for s in select_items):
        ctx.out_ch_types = None
        ctx.out_ch_names = None
        # pure `SELECT *` over one known table: the table's declared
        # CH types drive the formatter (Enum right-alignment in
        # Pretty, golden 00298)
        if (
            len(select_items) == 1
            and not joins
            and ctx.tabledef_of is not None
            and ctx.current_table
        ):
            _td = ctx.tabledef_of(ctx.current_table)
            if _td is not None:
                _ord = [
                    c for c in _td.columns
                    if c.default_kind not in ("MATERIALIZED", "ALIAS")
                ]
                ctx.out_ch_names = [c.name for c in _ord]
                ctx.out_ch_types = [c.ch_type for c in _ord]
    else:
        ctx.out_ch_types = _out_types
        ctx.out_ch_names = _out_names
    ctx.block_fns_b = _saved_block_b
    ctx.block_starts_sql = _saved_block_starts
    ctx.block_granule = _saved_block_g
    ctx.group_array_ord = _saved_ga_ord
    ctx.has_prev_flags = _saved_hpf
    return sql


# ------------------------------------------------------------- FROM / JOIN


def _resolve_view_name(name: str, ctx: Ctx) -> str | None:
    """Registered-table view for a CH table name (USE'd-db and
    default.-prefix resolution), or None when not a created table."""
    cand = name
    if (
        "." not in cand
        and ctx.default_db
        and f"{ctx.default_db}.{cand}" in ctx.table_views
    ):
        cand = f"{ctx.default_db}.{cand}"
    if (
        cand.startswith("default.")
        and cand not in ctx.table_views
        and cand[len("default."):] in ctx.table_views
    ):
        cand = cand[len("default."):]
    return ctx.table_views.get(cand)


def _strip_sub_totals(inner: list[Token]) -> tuple[list[Token], bool]:
    """Remove a depth-0 ``WITH TOTALS`` pair (never the WITH-alias
    list, which is not followed by the TOTALS keyword)."""
    out: list[Token] = []
    i = 0
    depth = 0
    found = False
    while i < len(inner):
        t = inner[i]
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        if (
            depth == 0
            and t.is_kw("WITH")
            and i + 1 < len(inner)
            and inner[i + 1].is_kw("TOTALS")
        ):
            found = True
            i += 2
            continue
        out.append(t)
        i += 1
    return out, found


def _render_from(toks: list[Token], ctx: Ctx) -> tuple[str, str | None]:
    if not toks:
        return "(SELECT 0 AS dummy)", None
    # subquery
    if toks[0].text == "(":
        close = _match_paren(toks, 0)
        sub_toks = toks[1:close]
        # depth-0 WITH TOTALS inside the subquery: the totals row is
        # out-of-band — invisible to an aggregating outer query, and a
        # top-level pass-through SELECT forwards it as its own totals
        # block (TotalsHavingBlockInputStream propagation)
        stripped, had_totals = _strip_sub_totals(sub_toks)
        if had_totals:
            if ctx.outer_consumes_agg or ctx.select_depth > 1:
                sub_toks = stripped
            else:
                ctx.passthrough_totals = True
        inner = _translate_union(sub_toks, ctx)
        alias = ""
        rest = toks[close + 1 :]
        if rest and rest[0].is_kw("AS"):
            rest = rest[1:]
        if rest:
            alias = f" AS {rest[0].text}"
        return f"(\n{inner}\n){alias or ' AS ' + ctx.gensym('sq')}", None

    # dotted / plain name, optionally a table function; backquoted
    # parts (`system`.`one`) normalize to the bare name
    name_parts = [toks[0].text.strip("`")]
    i = 1
    while i + 1 < len(toks) and toks[i].text == ".":
        name_parts.append(toks[i + 1].text.strip("`"))
        i += 2
    name = ".".join(name_parts)

    # table functions numbers(N) / one-row system tables
    if i < len(toks) and toks[i].text == "(" and len(name_parts) == 1:
        close = _match_paren(toks, i)
        args = [_rewrite(a, ctx) for a in _split_top(toks[i + 1 : close], ",")]
        i = close + 1
        if name in ("numbers", "numbers_mt"):
            return f"(SELECT id AS number FROM range({args[0]})) AS __numbers", None
        if name == "merge" and len(args) >= 2:
            # merge(db, 'regex') (TableFunctionMerge.h): union of the
            # db's tables matching the regex.  Members' declared
            # columns only (their published views carry _part).
            import re as _re3

            mdb = args[0].strip().strip("'")
            mpat = args[1].strip().strip("'").replace("\\\\", "\\")
            members = sorted(
                k
                for k in ctx.table_views
                if k.startswith(mdb + ".")
                and _re3.search(mpat, k.split(".", 1)[1])
            )
            if members:
                sels = []
                for m in members:
                    cols = (
                        ctx.columns_of(m) if ctx.columns_of is not None else None
                    )
                    cols = [c for c in (cols or []) if not c.startswith("_")]
                    proj = (
                        ", ".join(f"`{c}`" for c in cols) if cols else "*"
                    )
                    sels.append(f"SELECT {proj} FROM {ctx.table_views[m]}")
                return (
                    "(\n" + "\nUNION ALL\n".join(sels) + f"\n) {ctx.gensym('mg')}",
                    # meta (sampling key etc.) resolves by VIEW name
                    ctx.table_views[members[0]],
                )
        if name == "remote":
            # remote('addrs', db, table) / remote('addrs', db.table):
            # Spark's scheduler already scatters/gathers, so every
            # "shard" resolves to the local table — but the ADDRESS
            # MULTIPLICITY is semantic: remote('127.0.0.{1,2}', t)
            # reads t once per expanded address (2 shards = rows
            # duplicated twice, TableFunctionRemote.h brace
            # expansion), which distributed goldens observe.
            _srem = ctx.cur_settings or {}
            shards = _addr_count(
                args[0].strip().strip("'"),
                skip_unavailable=str(
                    _srem.get("skip_unavailable_shards", "0")
                ) == "1",
            )
            _no_merge = str(
                _srem.get("distributed_group_by_no_merge", "0")
            ) == "1"
            target = ".".join(
                a.strip().strip("'").replace("`", "").replace(" ", "")
                for a in args[1:]
            ) if len(args) > 1 else args[0].strip().strip("'")
            if target in ("system.one", "one"):
                if shards > 1:
                    if _no_merge:
                        # per-shard result sets stay UNMERGED: tag the
                        # rows with the shard ordinal, the aggregation
                        # adds it as a hidden group key (00184)
                        ctx.dgb_no_merge_col = "__dgbnm"
                        return (
                            f"(SELECT 0 AS dummy, id AS __dgbnm "
                            f"FROM range({shards})) AS __one",
                            None,
                        )
                    return (
                        f"(SELECT 0 AS dummy FROM range({shards})) AS __one",
                        None,
                    )
                return "(SELECT 0 AS dummy) AS __one", None
            if target in ("system.numbers", "numbers"):
                n_cap = min(134217728, ctx.max_read_rows or 134217728)
                return (
                    f"(SELECT id AS number FROM range(0, {n_cap}, 1, 1)) AS __numbers",
                    None,
                )
            if (
                "." not in target
                and target not in ctx.table_views
                and ctx.default_db
                and f"{ctx.default_db}.{target}" in ctx.table_views
            ):
                target = f"{ctx.default_db}.{target}"
            if (
                target.startswith("default.")
                and target not in ctx.table_views
                and target[len("default."):] in ctx.table_views
            ):
                target = target[len("default."):]
            resolved = ctx.table_views.get(target, target)
            if shards > 1:
                if _no_merge:
                    ctx.dgb_no_merge_col = "__dgbnm"
                    return (
                        f"(SELECT __r.*, id AS __dgbnm FROM {resolved} "
                        f"AS __r CROSS JOIN range({shards})) AS __remote",
                        target,
                    )
                return (
                    f"(SELECT __r.* FROM {resolved} AS __r "
                    f"CROSS JOIN range({shards})) AS __remote",
                    target,
                )
            return resolved, target
        raise ValueError(f"unsupported table function {name}()")
    if name in ("system.numbers", "system.numbers_mt"):
        n_cap = min(134217728, ctx.max_read_rows or 134217728)
        return f"(SELECT id AS number FROM range(0, {n_cap}, 1, 1)) AS __numbers", None
    if name == "system.one":
        return "(SELECT 0 AS dummy) AS __one", None
    if name.startswith("system.") and ctx.system_sql is not None:
        sys_sql = ctx.system_sql(name[len("system."):])
        if sys_sql is not None:
            return f"({sys_sql}) AS __{name.replace('.', '_')}", None

    # created tables registered under a dot-free view name; undotted
    # names resolve against the USE'd database first, and an explicit
    # `default.` prefix resolves the bare name (Context.h default db)
    if (
        "." not in name
        and name not in ctx.table_views
        and ctx.default_db
        and f"{ctx.default_db}.{name}" in ctx.table_views
    ):
        name = f"{ctx.default_db}.{name}"
    if (
        name.startswith("default.")
        and name not in ctx.table_views
        and name[len("default."):] in ctx.table_views
    ):
        name = name[len("default."):]
    name = ctx.table_views.get(name, name)

    final = False
    alias = None
    while i < len(toks):
        if toks[i].is_kw("FINAL"):
            final = True
            i += 1
        elif toks[i].is_kw("AS"):
            alias = toks[i + 1].text
            i += 2
        elif toks[i].kind in ("ident", "qident") and not toks[i].is_kw("FINAL"):
            alias = toks[i].text
            i += 1
        else:
            raise ValueError(f"unexpected FROM token {toks[i].text!r}")

    sql = name
    if final:
        sql = _final_subquery(name, ctx)
    if alias:
        sql += f" AS {alias}"
    return sql, name


def agg_merge_sql(fn: str, col: str) -> str:
    """Merge expression for one AggregateFunction(fn, ...) state column
    (AggregatingSortedBlockInputStream.h merges states per PK; state
    schemas per functions/state.py)."""
    f = fn.lower()
    qc = f"`{col}`"
    if f in ("uniq", "uniqhll12", "uniqcombined"):
        return f"hll_union_agg({qc})"
    if f in ("sum", "count"):
        return f"sum({qc})"
    if f == "max" or f == "argmax":
        return f"max({qc})"
    if f == "avg":
        return f"named_struct('sum', sum({qc}.sum), 'cnt', sum({qc}.cnt))"
    if f in ("grouparray", "groupuniqarray", "quantileexact"):
        return f"flatten(collect_list({qc}))"
    # min / any / anyLast / argMin and ordinary columns: deterministic
    # single value (the reference keeps the first-seen row's value)
    return f"min({qc})"


def _final_subquery(name: str, ctx: Ctx) -> str:
    """FINAL = merge-on-read dedup (CollapsingFinalBlockInputStream.h:14,
    ReplacingSortedBlockInputStream.h:15); for AggregatingMergeTree it
    merges AggregateFunction states per PK (AggregatingSortedBlockInputStream.h)
    using the CREATE TABLE column types."""
    meta = ctx.table_meta.get(name)
    if meta is None or not meta.primary_key:
        raise ValueError(f"FINAL needs registered primary_key for table {name!r}")
    pk = ", ".join(meta.primary_key)
    rn = ctx.gensym("rn")
    tdef = ctx.tabledef_of(name) if ctx.tabledef_of is not None else None
    if meta.engine.startswith("Aggregating") and tdef is not None:
        import re as _re

        sel = []
        for c in tdef.columns:
            if c.name in meta.primary_key:
                sel.append(f"`{c.name}`")
                continue
            m = _re.match(r"AggregateFunction\((\w+)", c.ch_type or "")
            fn = m.group(1) if m else ""
            sel.append(f"{agg_merge_sql(fn, c.name)} AS `{c.name}`")
        return (
            f"(SELECT {', '.join(sel)} FROM {name} GROUP BY {pk} "
            f"ORDER BY {pk})"
        )
    if meta.engine == "SummingMergeTree" and tdef is not None:
        return _summing_final_sql(name, meta, tdef, ctx)
    if meta.engine.startswith("Collapsing") and meta.sign_col:
        # keep latest row of keys whose sign-sum is positive
        return (
            f"(SELECT * EXCEPT ({rn}, {rn}_s) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY {pk} ORDER BY {meta.sign_col} DESC) AS {rn}, "
            f"sum({meta.sign_col}) OVER (PARTITION BY {pk}) AS {rn}_s FROM {name}) "
            f"WHERE {rn} = 1 AND {rn}_s > 0)"
        )
    order = f"{meta.version_col} DESC" if meta.version_col else "1"
    return (
        f"(SELECT * EXCEPT ({rn}) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {pk} ORDER BY {order}) AS {rn} FROM {name}) WHERE {rn} = 1)"
    )


_SUM_NUM = {"TINYINT", "SMALLINT", "INT", "BIGINT", "FLOAT", "DOUBLE"}
_SUM_ARR_INT = {
    "ARRAY<TINYINT>", "ARRAY<SMALLINT>", "ARRAY<INT>", "ARRAY<BIGINT>"
}
_SUM_ARR = _SUM_ARR_INT | {"ARRAY<FLOAT>", "ARRAY<DOUBLE>"}


def summing_parts(tdef, meta) -> tuple[list[str], list[tuple[list[str], list[str]]]]:
    """SummingMergeTree merge inputs: (metric columns, *Map nested
    groups as (key cols, value cols)).  Map membership follows
    SummingSortedBlockInputStream maps_to_sum: the first member and
    any name ending ID/Key/Type are keys (non-float integers), the
    rest are summed values; any violation rejects the whole group."""
    pk = set(meta.primary_key)
    groups: dict[str, list] = {}
    for c in tdef.columns:
        if "." in c.name:
            groups.setdefault(c.name.split(".", 1)[0], []).append(c)
    maps: list[tuple[list[str], list[str]]] = []
    for prefix, g in groups.items():
        if not prefix.endswith("Map") or len(g) < 2:
            continue
        if any(c.name in pk for c in g):
            continue
        keys: list[str] = []
        vals: list[str] = []
        ok = True
        for idx, c in enumerate(g):
            st = (c.spark_type or "").upper()
            last = c.name.split(".")[-1]
            if idx == 0 or last.endswith(("ID", "Key", "Type")):
                if st not in _SUM_ARR_INT:
                    ok = False
                    break
                keys.append(c.name)
            else:
                if st not in _SUM_ARR:
                    ok = False
                    break
                vals.append(c.name)
        if ok and vals:
            maps.append((keys, vals))
    map_cols = {c for ks, vs in maps for c in ks + vs}
    if meta.sum_cols:
        metrics = [
            c.name for c in tdef.columns if c.name in meta.sum_cols
        ]
    else:
        metrics = [
            c.name
            for c in tdef.columns
            if c.name not in pk
            and c.name not in map_cols
            and (c.spark_type or "").upper() in _SUM_NUM
        ]
    return metrics, maps


def _summing_final_sql(name: str, meta, tdef, ctx: Ctx) -> str:
    """FINAL over a SummingMergeTree: the on-the-fly summing merge —
    metric sums, first-row values, and *Map composite-key map merges
    (key tuples sorted, all-zero value entries dropped) per PK."""
    metrics, maps = summing_parts(tdef, meta)
    pk = list(meta.primary_key)
    map_cols = {c for ks, vs in maps for c in ks + vs}
    elem_t = {}
    for c in tdef.columns:
        st = (c.spark_type or "").upper()
        if st.startswith("ARRAY<"):
            elem_t[c.name] = st[6:-1]
    inner = [f"`{c}`" for c in pk]
    inner += [f"sum(`{m}`) AS `{m}`" for m in metrics]
    inner += [
        f"first(`{c.name}`) AS `{c.name}`"
        for c in tdef.columns
        if c.name not in pk and c.name not in metrics
        and c.name not in map_cols and not c.is_virtual
    ]
    merged_of: dict[int, str] = {}
    for gi, (keys, vals) in enumerate(maps):
        fields = ", ".join(
            [f"element_at(`{c}`, __i) AS k{j}" for j, c in enumerate(keys)]
            + [f"element_at(`{c}`, __i) AS v{j}" for j, c in enumerate(vals)]
        )
        inner.append(
            f"flatten(collect_list(transform(sequence(1, size(`{keys[0]}`)), "
            f"__i -> struct({fields})))) AS `__map{gi}`"
        )
        nk = len(keys)
        match = " AND ".join(f"e.k{j} = __k.k{j}" for j in range(nk))
        keysel = ", ".join(f"e.k{j} AS k{j}" for j in range(nk))
        keyout = ", ".join(f"__k.k{j} AS k{j}" for j in range(nk))
        zero = " AND ".join(f"s.v{j} = 0" for j in range(len(vals)))
        sums = ", ".join(
            f"aggregate(filter(`__map{gi}`, e -> {match}), "
            f"CAST(0 AS {elem_t[c]}), (acc, e) -> acc + e.v{j}) AS v{j}"
            for j, c in enumerate(vals)
        )
        merged_of[gi] = (
            f"filter(transform(array_sort(array_distinct("
            f"transform(`__map{gi}`, e -> struct({keysel})))), "
            f"__k -> struct({keyout}, {sums})), s -> NOT ({zero}))"
        )
    outer = []
    for c in tdef.columns:
        if c.is_virtual:
            continue
        if c.name in map_cols:
            for gi, (keys, vals) in enumerate(maps):
                if c.name in keys:
                    outer.append(
                        f"transform({merged_of[gi]}, s -> s.k{keys.index(c.name)}) "
                        f"AS `{c.name}`"
                    )
                    break
                if c.name in vals:
                    outer.append(
                        f"transform({merged_of[gi]}, s -> s.v{vals.index(c.name)}) "
                        f"AS `{c.name}`"
                    )
                    break
        else:
            outer.append(f"`{c.name}`")
    pk_sql = ", ".join(f"`{c}`" for c in pk)
    return (
        f"(SELECT {', '.join(outer)} FROM (SELECT {', '.join(inner)} "
        f"FROM {name} GROUP BY {pk_sql}) {ctx.gensym('sumf')} "
        f"ORDER BY {pk_sql})"
    )


def _finalize_state_sql(arg: str, ctx: Ctx) -> str:
    """finalizeAggregation dispatch over a stored AggregateFunction
    column (identity for plain-value states, estimator for sketches)."""
    fn = ctx.state_fn_of.get(arg.strip("`"))
    if fn is None and ctx.agg_fn_of is not None:
        fn = ctx.agg_fn_of(arg.strip("`"), ctx.current_table)
    if fn in ("uniq", "uniqHLL12", "uniqCombined"):
        return f"hll_sketch_estimate({arg})"
    if fn == "avg":
        return f"({arg}.sum / {arg}.cnt)"
    if fn in ("argMin", "argMax"):
        return f"{arg}.v"
    return arg


def _is_join_start(tokens: list[Token], i: int) -> bool:
    k = i
    seen = False
    while k < len(tokens) and tokens[k].kind == "ident":
        up = tokens[k].text.upper()
        if up == "JOIN":
            return True
        if up in ("GLOBAL", "ANY", "ALL") or up in _JOIN_KINDS:
            # "LEFT ARRAY JOIN" is not a join start
            if up == "LEFT" and _kw_at(tokens, k + 1, "ARRAY"):
                return False
            seen = True
            k += 1
            continue
        return False
    return False if not seen else False


_JOIN_ALIAS_STOP = {
    "USING", "ON", "WHERE", "PREWHERE", "GROUP", "ORDER", "HAVING",
    "LIMIT", "SETTINGS", "FORMAT", "UNION", "SAMPLE", "ARRAY", "WITH",
    "LEFT", "RIGHT", "INNER", "FULL", "CROSS", "ANY", "ALL", "GLOBAL",
    "JOIN",
}


def _take_join(tokens: list[Token], i: int) -> tuple[dict, int]:
    mods: list[str] = []
    while not tokens[i].is_kw("JOIN"):
        mods.append(tokens[i].text.upper())
        i += 1
    i += 1  # JOIN
    # right side: subquery or name
    if tokens[i].text == "(":
        close = _match_paren(tokens, i)
        right_toks = tokens[i : close + 1]
        i = close + 1
    else:
        # dotted table name only: ident (. ident)* — an AS (or bare)
        # alias must NOT be glued into the name
        start = i
        i += 1
        while (
            i + 1 < len(tokens)
            and tokens[i].text == "."
            and tokens[i + 1].kind in ("ident", "qident")
        ):
            i += 2
        right_toks = tokens[start:i]
    alias = None
    if i < len(tokens) and tokens[i].is_kw("AS"):
        alias = tokens[i + 1].text
        i += 2
    elif (
        i < len(tokens)
        and tokens[i].kind == "ident"
        and tokens[i].text.upper() not in _JOIN_ALIAS_STOP
    ):
        alias = tokens[i].text  # bare alias: `JOIN region r ON ...`
        i += 1
    using: list[Token] | None = None
    on: list[Token] | None = None
    if i < len(tokens) and tokens[i].is_kw("USING"):
        i += 1
        if tokens[i].text == "(":
            close = _match_paren(tokens, i)
            using = tokens[i + 1 : close]
            i = close + 1
        else:
            using, i = _take_clause(tokens, i)
    elif i < len(tokens) and tokens[i].is_kw("ON"):
        i += 1
        on, i = _take_clause(tokens, i)
    return (
        {"mods": mods, "right": right_toks, "alias": alias, "using": using, "on": on},
        i,
    )


_JOIN_DEFAULTS = {
    "tinyint": "0", "smallint": "0", "int": "0", "bigint": "0",
    "float": "CAST(0 AS FLOAT)", "double": "CAST(0 AS DOUBLE)",
    "string": "''", "date": "DATE'1970-01-01'",
    "timestamp": "TIMESTAMP'1970-01-01 00:00:00'",
    "timestamp_ntz": "TIMESTAMP'1970-01-01 00:00:00'",
}


def _join_default_of(simple: str) -> str | None:
    if simple.startswith("decimal"):
        return f"CAST(0 AS {simple.upper()})"
    if simple.startswith("array<"):
        return f"CAST(array() AS {simple.upper()})"
    return _JOIN_DEFAULTS.get(simple)


def _render_join(
    j: dict,
    ctx: Ctx,
    jdef_subs: dict[str, str] | None = None,
    left_sql: str | None = None,
    settings: dict | None = None,
    qualified_refs: set[str] | None = None,
) -> tuple[str, str]:
    mods = j["mods"]
    kind = "INNER"
    for m in mods:
        if m in ("LEFT", "RIGHT", "FULL", "CROSS"):
            kind = m
    any_strict = "ANY" in mods
    global_ = "GLOBAL" in mods

    right_toks = j["right"]
    right_totals = False
    if right_toks[0].text == "(":
        sub_toks = right_toks[1:-1]
        # depth-0 WITH TOTALS in a joined subquery: the totals row
        # travels out-of-band and combines with the left side's totals
        # (or type defaults) into the OUTER query's totals block
        # (TotalsHaving propagation through joins — golden 00150).
        # Pairing happens below via a null-safe ON; outside the
        # top-level pass-through case the row is invisible — strip it.
        _stripped, _had = _strip_sub_totals(sub_toks)
        if _had:
            if (
                ctx.select_depth == 1
                and not ctx.outer_consumes_agg
                and j["using"]
                and kind in ("LEFT", "INNER")
            ):
                right_totals = True
            else:
                sub_toks = _stripped
        inner = _translate_union(sub_toks, ctx)
        if right_totals:
            # set AFTER the nested translate (which clears the flag at
            # its own join stage) so the OUTER select's pairing sees it
            ctx.passthrough_totals = True
            ctx.join_right_totals = True
        right_sql = f"(\n{inner}\n)"
        right_name = None
    else:
        right_name = "".join(t.text for t in right_toks)
        # created tables (incl. keyword-ish names like `join`) resolve
        # through the registered view map with USE'd-db fallback
        _rv = _resolve_view_name(right_name, ctx)
        if _rv is not None:
            right_name = _rv
        right_sql = right_name

    alias = j["alias"] or ctx.gensym("j")
    using_cols = (
        [t.text for t in j["using"] if t.text != ","] if j["using"] else None
    )

    if any_strict and using_cols:
        # ANY = at most one right match (Join.h:352-378 MapsAny); dedup the
        # right side per key, deterministically via all-columns tiebreak.
        cols = None
        if right_name and ctx.columns_of is not None:
            cols = ctx.columns_of(right_name)
        order = ", ".join(cols) if cols else ", ".join(using_cols)
        rn = ctx.gensym("rn")
        right_sql = (
            f"(SELECT * EXCEPT ({rn}) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY {', '.join(using_cols)} ORDER BY {order}) AS {rn} "
            f"FROM {right_sql} ) WHERE {rn} = 1)"
        )

    right_totals_pair = False
    if right_totals and using_cols and ctx.schema_of_sql is not None:
        # rename the USING columns so the join can use a null-safe ON:
        # both sides' totals rows carry NULL keys, so l.k <=> r.k pairs
        # them while ordinary rows keep plain-equality semantics
        _rschema = ctx.schema_of_sql(right_sql) or []
        if _rschema:
            ren = ", ".join(
                f"`{c}` AS `__rt_{c}`" if c in using_cols else f"`{c}`"
                for c, _t in _rschema
            )
            right_sql = f"(SELECT {ren} FROM {right_sql})"
            right_totals_pair = True

    # duplicate non-USING column names: the LEFT side wins — a bare
    # reference resolves to the left column in the reference (the probe
    # block's columns precede the joined ones; 00098_l_union_all) —
    # drop the right-side duplicates so Spark never sees an ambiguity
    if (
        using_cols
        and left_sql is not None
        and ctx.schema_of_sql is not None
    ):
        lcols = {c for c, _t in ctx.schema_of_sql(left_sql) or []}
        rcols = [c for c, _t in ctx.schema_of_sql(right_sql) or []]
        dup = [
            c
            for c in rcols
            if c in lcols
            and c not in using_cols
            # qualified `alias.col` references keep the column reachable
            and f"{alias}.{c}" not in (qualified_refs or ())
        ]
        if dup:
            right_sql = (
                "(SELECT * EXCEPT ("
                + ", ".join(f"`{c}`" for c in dup)
                + f") FROM {right_sql})"
            )

    # non-matched outer-join rows read the other side's columns as TYPE
    # DEFAULTS, not NULL (Interpreters/Join.cpp inserts default values;
    # join_use_nulls=0 is the reference default, Settings.h) — record
    # coalesce substitutions for the outer clauses, driven by the
    # analyzed schema of the side that can be missing: the right side
    # under LEFT/FULL, the left side under RIGHT/FULL.  SET
    # join_use_nulls = 1 switches to NULL fill (Spark's native join
    # semantics), so no substitution then.
    # Nullable join keys never enter the hash table (Join.cpp null_map
    # skip at insertFromBlock), so RIGHT/FULL joins never emit
    # right-side rows whose key is NULL — Spark would; filter them out
    # (the IS NOT NULL prunes away on non-nullable keys)
    if kind in ("RIGHT", "FULL") and using_cols:
        null_guard = " AND ".join(f"`{c}` IS NOT NULL" for c in using_cols)
        right_sql = f"(SELECT * FROM {right_sql} WHERE {null_guard})"

    use_nulls = (settings or {}).get("join_use_nulls", "0") not in ("0", "")
    if (
        jdef_subs is not None
        and not use_nulls
        and kind in ("LEFT", "RIGHT", "FULL")
        and using_cols
        and ctx.schema_of_sql is not None
    ):
        sides = []
        if kind in ("LEFT", "FULL"):
            sides.append(right_sql)
        if kind in ("RIGHT", "FULL") and left_sql is not None:
            sides.append(left_sql)
        for side_sql in sides:
            schema = ctx.schema_of_sql(side_sql)
            for col, simple in schema or []:
                if col in using_cols:
                    continue
                d = _join_default_of(simple)
                if d is not None:
                    jdef_subs[col] = f"coalesce(`{col}`, {d})"

    hint = f"BROADCAST({alias})" if global_ else ""
    sql = f"\n{kind} JOIN {right_sql} AS {alias}"
    if right_totals_pair:
        sql += " ON " + " AND ".join(
            f"`{c}` <=> {alias}.`__rt_{c}`" for c in using_cols
        )
    elif using_cols:
        sql += f" USING ({', '.join(using_cols)})"
    elif j["on"] is not None:
        sql += f" ON {_rewrite(j['on'], ctx)}"
    return sql, hint


# ---------------------------------------------------------------- SAMPLE


def _sample_predicate(
    toks: list[Token], sample_key: str, ctx: Ctx, width: int | None = None,
    replicas: tuple[int, int] = (1, 0),
) -> str:
    """SAMPLE n/d [OFFSET o/d].  With a declared sampling column
    (``width`` = its type's value count) the reference cuts the RAW
    key range proportionally (MergeTreeDataSelectExecutor relative
    sampling: key in [floor(off*W), floor((off+frac)*W))); otherwise
    the Knuth-hash emulation (operators.clauses.deterministic_sample)
    applies."""
    txt = [t.text for t in toks]
    off = 0.0
    if "OFFSET" in [t.text.upper() for t in toks]:
        k = [t.text.upper() for t in toks].index("OFFSET")
        off = _frac(txt[k + 1 :])
        txt = txt[:k]
    frac = _frac(txt)
    if width is not None:
        lo = int(off * width)
        hi = min(int((off + frac) * width), width)
        n, k = replicas
        if n > 1:
            # parallel replicas subdivide the sampled range
            # (parallel_replica_offset picks the k-th slice)
            span = hi - lo
            lo, hi = (
                lo + int(span * k / n),
                lo + (int(span * (k + 1) / n) if k + 1 < n else span),
            )
        return (
            f"(CAST({sample_key} AS DECIMAL(20, 0)) >= {lo} "
            f"AND CAST({sample_key} AS DECIMAL(20, 0)) < {hi})"
        )
    lo = int(off * 4294967296)
    hi = int((off + frac) * 4294967296)
    h = f"pmod(CAST({sample_key} AS BIGINT) * 2654435761, 4294967296)"
    return f"({h} >= {lo} AND {h} < {hi})"


def _frac(parts: list[str]) -> float:
    if "/" in parts:
        k = parts.index("/")
        return float(parts[k - 1]) / float(parts[k + 1])
    return float(parts[0])


# ------------------------------------------------------- token utilities


def _kw_at(tokens: list[Token], i: int, word: str) -> bool:
    return i < len(tokens) and tokens[i].is_kw(word)


_BOOL_PUNCT = {"=", "==", "!=", "<>", "<", ">", "<=", ">=", "?"}
_BOOL_KW = {"IN", "LIKE", "NOT", "AND", "OR", "IS", "BETWEEN", "EXISTS"}


def _boolify_where(toks: list[Token], ctx: Ctx) -> str:
    """Render a WHERE/PREWHERE/HAVING clause with UInt8 truthiness per
    AND/OR OPERAND: `database = 'x' AND active` needs the bare numeric
    ident cast to BOOLEAN (golden 00296), which a whole-clause wrap
    cannot do once a boolean operator is present."""
    if any(t.text == "?" for t in toks):
        # ternary binds loosest — leave the chain to the generic path
        return _boolify(toks, _rewrite(toks, ctx))
    segs: list[list[Token]] = []
    ops: list[str] = []
    cur: list[Token] = []
    depth = 0
    skip_and = 0  # BETWEEN … AND … consumes one AND
    for t in toks:
        if t.text in ("(", "["):
            depth += 1
        elif t.text in (")", "]"):
            depth -= 1
        if depth == 0 and t.is_kw("BETWEEN"):
            skip_and += 1
        if depth == 0 and t.is_kw("AND", "OR") and not (
            t.is_kw("AND") and skip_and > 0
        ):
            segs.append(cur)
            ops.append(t.text.upper())
            cur = []
            continue
        if depth == 0 and t.is_kw("AND") and skip_and > 0:
            skip_and -= 1
        cur.append(t)
    segs.append(cur)
    if len(segs) == 1 or any(not sg for sg in segs):
        return _boolify(toks, _rewrite(toks, ctx))
    out = f"({_boolify(segs[0], _rewrite(segs[0], ctx))})"
    for op, sg in zip(ops, segs[1:]):
        out += f" {op} ({_boolify(sg, _rewrite(sg, ctx))})"
    return out


def _boolify(toks: list[Token], sql: str) -> str:
    """The reference treats any numeric condition as a boolean (UInt8
    nonzero = true, Interpreters/ExpressionAnalyzer.cpp filter columns);
    Spark requires BOOLEAN.  When no top-level boolean operator is
    visible, wrap in CAST(... AS BOOLEAN) — a no-op Catalyst strips when
    the expression is already boolean."""
    depth = 0
    for t in toks:
        if t.text in ("(", "["):
            depth += 1
        elif t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and (
            t.text in _BOOL_PUNCT or (t.kind == "ident" and t.text.upper() in _BOOL_KW)
        ):
            return sql
    return f"CAST(({sql}) AS BOOLEAN)"


def _take_clause(tokens: list[Token], i: int) -> tuple[list[Token], int]:
    """Take tokens until the next top-level clause keyword."""
    out: list[Token] = []
    depth = 0
    while i < len(tokens):
        t = tokens[i]
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "ident":
            up = t.text.upper()
            if up in _CLAUSE_STOP and not (up == "ARRAY" and not _kw_at(tokens, i + 1, "JOIN")):
                break
            if up == "WITH" and _kw_at(tokens, i + 1, "TOTALS"):
                break
            if up in ("GLOBAL", "ANY", "ALL", "INNER", "FULL", "CROSS") and _is_join_start(tokens, i):
                break
            if up in ("LEFT", "RIGHT") and (
                _is_join_start(tokens, i)
                or (_kw_at(tokens, i + 1, "ARRAY") and _kw_at(tokens, i + 2, "JOIN"))
            ):
                break
        out.append(t)
        i += 1
    return out, i


def _take_from(tokens: list[Token], i: int) -> tuple[list[Token], int]:
    out: list[Token] = []
    depth = 0
    while i < len(tokens):
        t = tokens[i]
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.kind == "ident":
            up = t.text.upper()
            after_dot = bool(out) and out[-1].text == "."
            if up in ("FINAL",) and not after_dot:
                out.append(t)
                i += 1
                continue
            if not after_dot and (
                up in _CLAUSE_STOP - {"FROM"} or _is_join_start(tokens, i)
            ):
                break
            if not after_dot and up in ("LEFT", "RIGHT") and _kw_at(tokens, i + 1, "ARRAY"):
                break
            if not after_dot and up == "WITH" and _kw_at(tokens, i + 1, "TOTALS"):
                break  # keyless `FROM t WITH TOTALS` (no GROUP BY)
        out.append(t)
        i += 1
    return out, i


def _take_until(
    tokens: list[Token], i: int, stops: set[str], depth_sensitive: bool = False
) -> tuple[list[Token], int]:
    out: list[Token] = []
    depth = 0
    while i < len(tokens):
        t = tokens[i]
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        if depth == 0 and t.kind == "ident" and t.text.upper() in stops:
            break
        out.append(t)
        i += 1
    return out, i


def _addr_count(addrs: str, skip_unavailable: bool = False) -> int:
    """Number of addresses a remote() pattern expands to
    (TableFunctionRemote.h: top-level commas separate addresses,
    ``{a,b,c}`` alternatives and ``{N..M}`` numeric ranges multiply
    within one address).  With ``skip_unavailable`` (the
    skip_unavailable_shards setting), only loopback shards count —
    anything not 127.*/localhost is an unreachable host the reference
    drops from the result (golden 00183)."""
    import re as _re

    if skip_unavailable:
        total = 0
        for addr in _addr_expand(addrs):
            host = addr.split(":")[0].strip()
            if host.startswith("127.") or host == "localhost":
                total += 1
        return total

    parts: list[str] = []
    depth, cur = 0, ""
    for ch in addrs:
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    parts.append(cur)
    total = 0
    for part in parts:
        c = 1
        for m in _re.finditer(r"\{([^}]*)\}", part):
            body = m.group(1)
            rng = _re.fullmatch(r"(\d+)\.\.(\d+)", body)
            if rng:
                c *= int(rng.group(2)) - int(rng.group(1)) + 1
            else:
                c *= body.count(",") + 1
        total += c
    return max(total, 1)


def _split_top(tokens: list[Token], sep: str) -> list[list[Token]]:
    parts: list[list[Token]] = []
    cur: list[Token] = []
    depth = 0
    for t in tokens:
        if t.text in ("(", "["):
            depth += 1
        elif t.text in (")", "]"):
            depth -= 1
        if depth == 0 and t.text == sep:
            parts.append(cur)
            cur = []
        else:
            cur.append(t)
    if cur or parts:
        parts.append(cur)
    return [p for p in parts if p]


def _match_paren(tokens: list[Token], i: int) -> int:
    depth = 0
    for k in range(i, len(tokens)):
        if tokens[k].text in ("(", "["):
            depth += 1
        elif tokens[k].text in (")", "]"):
            depth -= 1
            if depth == 0:
                return k
    raise ValueError("unbalanced parentheses")


def _addr_expand(addrs: str) -> list[str]:
    """Expand a remote() address pattern into concrete addresses
    (brace alternatives and numeric ranges multiply per address)."""
    import itertools
    import re as _re

    parts: list[str] = []
    depth, cur = 0, ""
    for ch in addrs:
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    parts.append(cur)
    out: list[str] = []
    for part in parts:
        segs: list[list[str]] = []
        pos = 0
        for m in _re.finditer(r"\{([^}]*)\}", part):
            segs.append([part[pos : m.start()]])
            body = m.group(1)
            rng = _re.fullmatch(r"(\d+)\.\.(\d+)", body)
            if rng:
                segs.append(
                    [str(x) for x in range(int(rng.group(1)), int(rng.group(2)) + 1)]
                )
            else:
                segs.append(body.split(","))
            pos = m.end()
        segs.append([part[pos:]])
        for combo in itertools.product(*segs):
            out.append("".join(combo))
    return out


def _strip_alias(item: list[Token]) -> tuple[list[Token], str | None]:
    if len(item) >= 2 and item[-2].is_kw("AS"):
        return item[:-2], item[-1].text
    return item, None


def _collect_inline_aliases(
    tokens: list[Token],
    ctx: Ctx,
    subs: dict[str, str],
    out_subs: dict[str, str] | None = None,
    top_select: bool = False,
) -> list[Token]:
    """Record `expr AS name` aliases and strip the nested ones.

    Reference: ExpressionAnalyzer.cpp normalizeTree — any expression
    element may be aliased and referenced anywhere in the query.  The
    aliased expression extends back to the nearest `(`, `[` or `,` at
    the same bracket depth (ParserExpressionWithOptionalAlias scope).
    Subqueries are skipped — their aliases are their own.
    """
    out: list[Token] = []
    depth_stack: list[str] = []
    k = 0
    n = len(tokens)
    while k < n:
        t = tokens[k]
        if t.text == "(" and k + 1 < n and tokens[k + 1].is_kw("SELECT"):
            close = _match_paren(tokens, k)
            out.extend(tokens[k : close + 1])
            k = close + 1
            continue
        # CAST(x AS Type): the AS is grammar, not an alias
        if (
            t.kind == "ident"
            and t.text.upper() == "CAST"
            and k + 1 < n
            and tokens[k + 1].text == "("
        ):
            close = _match_paren(tokens, k + 1)
            out.extend(tokens[k : close + 1])
            k = close + 1
            continue
        if t.text in ("(", "["):
            depth_stack.append(t.text)
        elif t.text in (")", "]") and depth_stack:
            depth_stack.pop()
        if (
            t.is_kw("AS")
            and k + 1 < n
            and tokens[k + 1].kind in ("ident", "qident")
            and not tokens[k + 1].is_kw(
                "SELECT", "FROM", "WHERE", "GROUP", "ORDER", "LIMIT"
            )
        ):
            name = tokens[k + 1].text
            # item-ending alias at depth 0: output-column alias
            nxt = k + 2
            ends_item = nxt >= n or (not depth_stack and tokens[nxt].text == ",")
            # find expression start: last boundary in `out` at this depth
            b = len(out) - 1
            d = 0
            while b >= 0:
                txt = out[b].text
                if txt in (")", "]"):
                    d += 1
                elif txt in ("(", "["):
                    if d == 0:
                        break
                    d -= 1
                elif txt == "," and d == 0:
                    break
                b -= 1
            expr_toks = out[b + 1 :]
            has_array_join = any(
                e.kind == "ident" and e.text == "arrayJoin" for e in expr_toks
            )
            is_output = not depth_stack and top_select and ends_item
            target = out_subs if (is_output and out_subs is not None) else subs
            if expr_toks and name not in target and not has_array_join:
                # arrayJoin aliases resolve to the exploded column via
                # the ARRAY JOIN machinery below, not by substitution
                rendered = _rewrite(_substitute(list(expr_toks), subs), ctx)
                target[name] = f"({rendered})"
                if name not in ctx.alias_ch_toks:
                    ctx.alias_ch_toks[name] = list(expr_toks)
            if is_output:
                out.extend(tokens[k : k + 2])  # keep output alias
            k += 2
            continue
        out.append(t)
        k += 1
    return out


def _resolve_alias_chain(subs: dict[str, str]) -> dict[str, str]:
    """ALIAS-of-ALIAS chains (``a2 ALIAS a1``) resolve transitively:
    substitute alias bodies into each other until fixpoint (bounded by
    the chain length; self-recursive aliases stop changing and surface
    as an analysis error downstream)."""
    import re as _re

    for _ in range(len(subs)):
        changed = False
        for k, v in list(subs.items()):
            nv = v
            for k2, v2 in subs.items():
                if k2 == k:
                    continue
                nv = nv.replace(f"`{k2}`", v2)
                # literal replacement — v2 may contain backslashes
                # that re.sub would treat as (invalid) escapes
                nv = _re.sub(
                    rf"(?<![\w`.]){_re.escape(k2)}(?![\w`])(?!\s*\()",
                    lambda _m, _v=v2: _v,
                    nv,
                )
            if nv != v:
                subs[k] = nv
                changed = True
        if not changed:
            break
    return subs


def _fold_dotted(toks: list[Token], dotted: set[str]) -> list[Token]:
    """Fold ``a . b`` ident chains that name a literal dotted column
    (Nested member) into one backquoted identifier."""
    out: list[Token] = []
    k = 0
    n = len(toks)
    while k < n:
        t = toks[k]
        if (
            t.kind == "ident"
            and k + 2 < n
            and toks[k + 1].text == "."
            and toks[k + 2].kind in ("ident", "qident")
        ):
            name = f"{t.text}.{toks[k + 2].text.strip('`')}"
            if name in dotted:
                out.append(Token("qident", f"`{name}`"))
                k += 3
                continue
        out.append(t)
        k += 1
    return out


def _lambda_params(tokens: list[Token]) -> set[str]:
    """Names bound as lambda formal parameters anywhere in the tokens
    (``x ->`` or ``(a, b) ->`` — ExpressionElementParsers.cpp lambda)."""
    names: set[str] = set()
    for k, t in enumerate(tokens):
        if t.text != "->":
            continue
        if k >= 1 and tokens[k - 1].kind == "ident":
            names.add(tokens[k - 1].text)
        elif k >= 1 and tokens[k - 1].text == ")":
            b = k - 2
            while b >= 0 and tokens[b].text != "(":
                if tokens[b].kind == "ident":
                    names.add(tokens[b].text)
                b -= 1
    return names


def _substitute(
    tokens: list[Token], subs: dict[str, str], reexpand: bool = False
) -> list[Token]:
    if not subs:
        return tokens
    out: list[Token] = []
    k = 0
    n = len(tokens)
    while k < n:
        t = tokens[k]
        if t.text == "(" and k + 1 < n and tokens[k + 1].is_kw("SELECT"):
            # a SUBQUERY's own `AS name` definitions SHADOW enclosing
            # select aliases (normalizeTree scoping — 00211's
            # `SELECT 1 AS x, …, (SELECT 2 AS x, x)` binds the inner x
            # to 2); recurse over the span with shadowed names dropped
            close = _match_paren(tokens, k)
            body = tokens[k + 1 : close]
            shadowed = {
                body[j + 1].text.strip("`")
                for j, tk in enumerate(body)
                if tk.is_kw("AS")
                and j + 1 < len(body)
                and body[j + 1].kind in ("ident", "qident")
            }
            inner_subs = {a: b for a, b in subs.items() if a not in shadowed}
            out.append(tokens[k])
            out.extend(_substitute(body, inner_subs, reexpand))
            out.append(tokens[close])
            k = close + 1
            continue
        key = None
        if t.kind == "ident" and t.text in subs:
            key = t.text
        elif t.kind == "qident" and t.text.strip("`") in subs:
            key = t.text.strip("`")
        if (
            key is not None
            and (k == 0 or (tokens[k - 1].text != "." and not tokens[k - 1].is_kw("AS")))
            and (k + 1 >= len(tokens) or tokens[k + 1].text != "(")
        ):
            sub_tok = Token("raw", subs[key])
            # remember which alias this raw fragment came from so
            # translate-time type inference (toTypeName) can recover
            # the original CH expression tokens
            sub_tok.ch_name = key  # type: ignore[attr-defined]
            # select-alias substitutions may be re-rendered in the
            # clause's context (type-dispatched forms); join-default /
            # array-join substitutions must stay as rendered
            sub_tok.reexpand = reexpand  # type: ignore[attr-defined]
            out.append(sub_tok)
        else:
            out.append(t)
        k += 1
    return out


def _find_call(tokens: list[Token], name: str) -> tuple[int, int, list[Token]] | None:
    for k, t in enumerate(tokens):
        if t.kind == "ident" and t.text == name and k + 1 < len(tokens) and tokens[k + 1].text == "(":
            close = _match_paren(tokens, k + 1)
            return k, close + 1, tokens[k + 2 : close]
    return None


# --------------------------------------------------- expression rewriting


def _order_items(tokens: list[Token], ctx: Ctx) -> list[tuple[str, str]]:
    """ORDER BY items as (expr_sql, ' ASC'|' DESC'|'' + nulls) pairs."""
    items: list[tuple[str, str]] = []
    for item in _split_top(tokens, ","):
        item, direction = _order_direction(item)
        # ORDER BY x COLLATE 'ru' — ICU collated comparison
        # (ColumnString getPermutationWithCollation; golden 00105)
        collate = None
        if (
            len(item) >= 2
            and item[-2].is_kw("COLLATE")
            and item[-1].kind == "string"
        ):
            collate = item[-1].text.strip("'")
            item = item[:-2]
        expr = _rewrite(item, ctx)
        if collate is not None:
            items.append((f"ch_collate_key({expr}, '{collate}')", direction))
            continue
        # Float sort: the reference places NaN BETWEEN the numbers and
        # the NULL block, on the NULL side (ColumnsNumber.h
        # PermutationSortNan + null_direction_hint; golden 00437) —
        # Spark always sorts NaN greatest.  A leading group key
        # (values < NaN < NULL, reversed under NULLS FIRST) restores
        # the reference order; emitted only for inferably-float items.
        ch_t = _infer_expr_ch_type(item, ctx)
        base_t = (
            ch_t[len("Nullable(") : -1]
            if ch_t is not None and ch_t.startswith("Nullable(")
            else ch_t
        )
        if base_t in ("Float32", "Float64"):
            grp = (
                f"(CASE WHEN ({expr}) IS NULL THEN 2 "
                f"WHEN isnan({expr}) THEN 1 ELSE 0 END)"
            )
            gdir = " DESC" if direction.endswith("NULLS FIRST") else " ASC"
            items.append((grp, gdir))
        elif base_t == "UInt64" and any(
            t.text in ("*", "+", "-") for t in item
        ):
            # UInt64 arithmetic can wrap past Int64 max: the reference
            # compares the full unsigned value; Spark's BIGINT holds
            # the same bits signed.  Unsigned order = non-negatives
            # ascending, then negatives ascending — a leading sign
            # group restores it (constant-folds away when no wrap).
            items.append((f"(({expr}) < 0)", direction))
        elif base_t is not None and base_t.startswith("Enum"):
            # Enum sorts by its VALUE (DataTypeEnum comparison), not
            # by the stored name string
            ev = _enum_value_sql(expr, base_t)
            if ev is not None:
                items.append((ev, direction))
                continue
        if ch_t is not None and ch_t.startswith("Array(Nullable("):
            # NULL elements compare GREATEST inside array comparisons
            # (ColumnArray compareAt with null_direction_hint = 1 —
            # golden 00395); Spark sorts array nulls first.  A struct
            # key (is-null flag first) restores the order.
            items.append((
                f"transform({expr}, __oe -> "
                f"struct((__oe IS NULL) AS n, __oe AS v))",
                direction,
            ))
            continue
        items.append((expr, direction))
    return items


_AGG_NAME_RE = re.compile(
    r"(?i)^(count|sum|sumWithOverflow|avg|min|max|any|anyLast|anyHeavy|"
    r"argMin|argMax|uniq\w*|groupArray\w*|groupUniqArray|quantiles?\w*|"
    r"median\w*|sequenceMatch|sequenceCount|varSamp|varPop|stddevSamp|"
    r"stddevPop|covarSamp|covarPop|corr|topK)"
    r"(If|Array|ForEach|State|Merge|MergeState)*$"
)


def _item_has_agg(toks: list[Token]) -> bool:
    """True when the expression contains an aggregate-function call
    (used to split aggregate vs. plain columns for the totals row)."""
    for j, t in enumerate(toks):
        if (
            t.kind == "ident"
            and j + 1 < len(toks)
            and toks[j + 1].text == "("
            and _AGG_NAME_RE.match(t.text)
        ):
            return True
    return False


_NONCONST_FNS = {
    "materialize", "arrayjoin", "arraymap", "arrayfilter", "arraysort",
    "arrayreversesort", "arrayexists", "arrayall", "arraycount",
    "arrayfirst", "arrayfirstindex", "arraysum", "rand", "rand64",
    "rownumberinallblocks", "rownumberinblock", "blocknumber", "blocksize",
}

_CONST_KWS = {
    "AS", "AND", "OR", "NOT", "IN", "LIKE", "NULL", "CASE", "WHEN",
    "THEN", "ELSE", "END", "INTERVAL", "IS", "BETWEEN", "DISTINCT",
}


def _item_is_const(toks: list[Token], const_aliases: set[str]) -> bool:
    """True when the expression is a constant column in the reference
    (literals and functions over literals — ColumnConst propagation;
    materialize()/higher-order/rand break constness).  Used for
    extremes: ColumnConst::getExtremes returns the value itself
    (Columns/ColumnConst.h:245)."""
    if _item_has_agg(toks):
        return False
    for j, t in enumerate(toks):
        if t.kind != "ident":
            continue
        if j + 1 < len(toks) and toks[j + 1].text == "(":
            if t.text.lower() in _NONCONST_FNS:
                return False
            continue
        if t.text.upper() in _CONST_KWS:
            continue
        if t.text in const_aliases:
            continue
        if t.text.lower() in ("inf", "infinity", "nan"):
            continue
        return False
    return True


def _ch_item_name(item: list[Token]) -> str | None:
    """CH output-column name of a select item (IAST::getColumnName
    analog): the alias when present, else the canonical expression
    text for the simple shapes (identifier, literal, nested calls,
    array literals).  None = not renderable → the formatter falls back
    to Spark's column name."""
    toks, alias = _strip_alias(item)
    if alias:
        return alias.strip("`")
    return _ch_expr_name(toks)


def _ch_expr_name(toks: list[Token]) -> str | None:
    if not toks:
        return None
    if len(toks) == 1:
        t = toks[0]
        if t.kind in ("ident", "number", "string"):
            return t.text
        if t.kind == "raw" and getattr(t, "ch_name", None):
            # alias-substituted fragment keeps its alias as the
            # output name (normalizeTree preserves the alias)
            return t.ch_name
        return None
    t0 = toks[0]
    if (
        t0.kind == "ident"
        and toks[1].text == "("
        and _match_paren(toks, 1) == len(toks) - 1
    ):
        args = _split_top(toks[2:-1], ",")
        if not any(args):
            return f"{t0.text}()"
        parts = [_ch_expr_name(a) for a in args]
        if all(p is not None for p in parts):
            return f"{t0.text}({', '.join(parts)})"
        return None
    if t0.text == "[" and _match_paren(toks, 0) == len(toks) - 1:
        parts = [_ch_expr_name(a) for a in _split_top(toks[1:-1], ",")]
        if all(p is not None for p in parts):
            return f"[{', '.join(parts)}]"
    return None


def _infer_expr_ch_type(toks: list[Token], ctx: Ctx) -> str | None:
    """CH type of an expression token list, resolving select aliases
    back to their original CH tokens and column refs against the
    current table's declared CH types.  None = not statically
    inferable (callers fall back to runtime behavior)."""
    from .statements import _infer_ch_type

    cols: dict[str, str] = {"number": "UInt64", "dummy": "UInt8"}
    if ctx.tabledef_of is not None and ctx.current_table:
        td = ctx.tabledef_of(ctx.current_table)
        if td is not None:
            for c in td.columns:
                if c.ch_type:
                    cols[c.name] = c.ch_type
    # lambda formals shadow columns inside higher-order bodies
    cols.update(ctx.lambda_types)
    # an alias-substituted raw fragment that still NAMES a declared
    # column (e.g. a table ALIAS column) types as that column
    if (
        len(toks) == 1
        and toks[0].kind == "raw"
        and getattr(toks[0], "ch_name", None) in cols
    ):
        return cols[toks[0].ch_name]
    toks = _expand_alias_toks(toks, ctx, skip=set(cols))
    return _infer_ch_type(toks, cols)


def _expand_alias_toks(
    toks: list[Token], ctx: Ctx, skip: set | None = None
) -> list[Token]:
    """Expand select-alias references back to their ORIGINAL CH tokens
    (fixpoint, 8 rounds — normalizeTree substitution depth is shallow
    in the corpus)."""
    skip = skip or set()
    toks = list(toks)
    for _ in range(8):
        expanded: list[Token] = []
        changed = False
        for tk in toks:
            alias = (
                tk.text if tk.kind == "ident" else getattr(tk, "ch_name", None)
            )
            if alias in ctx.alias_ch_toks and alias not in skip:
                expanded.extend(ctx.alias_ch_toks[alias])
                changed = True
            else:
                expanded.append(tk)
        toks = expanded
        if not changed:
            break
    return toks


def _order_direction(item: list[Token]) -> tuple[list[Token], str]:
    """Strip ``[ASC|DESC] [NULLS FIRST|LAST]`` from an ORDER BY item.

    The reference sorts NULL greatest-LAST in BOTH directions by
    default (ColumnNullable::getPermutation null_direction_hint;
    golden 00426) while Spark's ASC defaults to NULLS FIRST — so the
    suffix is always explicit."""
    nulls = ""
    if (
        len(item) >= 2
        and item[-2].is_kw("NULLS")
        and item[-1].is_kw("FIRST", "LAST")
    ):
        nulls = " NULLS " + item[-1].text.upper()
        item = item[:-2]
    direction = ""
    if item and item[-1].is_kw("ASC", "DESC"):
        direction = " " + item[-1].text.upper()
        item = item[:-1]
    return item, direction + (nulls or " NULLS LAST")


def _rewrite_list(tokens: list[Token], ctx: Ctx, keep_dir: bool = False) -> str:
    parts = []
    for item in _split_top(tokens, ","):
        direction = ""
        if keep_dir and item and item[-1].is_kw("ASC", "DESC"):
            direction = " " + item[-1].text.upper()
            item = item[:-1]
        parts.append(_rewrite(item, ctx) + direction)
    return ", ".join(parts)


def _rewrite_select_item(tokens: list[Token], ctx: Ctx) -> str:
    toks, alias = _strip_alias(tokens)
    body = _rewrite(toks, ctx)
    return f"{body} AS {alias}" if alias else body


def _rewrite(tokens: list[Token], ctx: Ctx) -> str:
    text, _ = _rw_seq(tokens, 0, ctx, stop={")", "]", ","})
    return text


# Syntactic result-kind classification.  The reference's type system
# resolves Date/DateTime arithmetic and array-vs-string overloads at
# analysis time (DataTypes/); without column types we approximate by
# classifying the outermost call.  Conservative: unknown -> None, and
# the arithmetic fold below only fires when a kind IS known.
_DATE_FNS = {
    "toDate", "today", "yesterday", "toMonday", "toStartOfMonth",
    "toStartOfQuarter", "toStartOfYear", "addDays", "subtractDays",
}
_DATETIME_FNS = {
    "toDateTime", "now", "toStartOfMinute", "toStartOfFiveMinute",
    "toStartOfHour", "toStartOfDay", "timeSlot", "toTime",
}
_ARRAY_FNS = {
    "array", "range", "splitByChar", "splitByString", "alphaTokens",
    "extractAll", "arrayMap", "arrayFilter", "arraySort",
    "arrayReverseSort", "arrayConcat", "arraySlice", "arrayDistinct",
    "arrayEnumerate", "arrayEnumerateUniq", "arrayPushBack",
    "groupArrayIf", "groupArrayMerge", "groupUniqArrayIf",
    "groupUniqArrayMerge",
    "arrayPushFront", "arrayResize", "arrayReverse", "groupArray",
    "groupUniqArray", "topK", "bitmaskToArray", "emptyArrayUInt8",
    "emptyArrayUInt16", "emptyArrayUInt32", "emptyArrayUInt64",
    "emptyArrayInt8", "emptyArrayInt16", "emptyArrayInt32",
    "emptyArrayInt64", "emptyArrayFloat32", "emptyArrayFloat64",
    "emptyArrayDate", "emptyArrayDateTime", "emptyArrayString",
}


def _syntactic_kind(toks: list[Token]) -> str | None:
    """Kind of a whole expression item: 'date' | 'datetime' | 'array'
    or None when not syntactically evident."""
    if not toks:
        return None
    t0 = toks[0]
    if t0.text == "[" and _match_paren(toks, 0) == len(toks) - 1:
        return "array"
    if t0.kind == "ident" and len(toks) > 1 and toks[1].text == "(":
        if _match_paren(toks, 1) == len(toks) - 1:
            if t0.text in _ARRAY_FNS:
                return "array"
            if (
                t0.text == "arrayReduce"
                and len(toks) > 2
                and toks[2].kind == "string"
                and toks[2].text.strip("'").startswith(
                    ("groupArray", "groupUniqArray")
                )
            ):
                return "array"
            if t0.text in _DATE_FNS:
                return "date"
            if t0.text in _DATETIME_FNS:
                return "datetime"
            if t0.text in ("least", "greatest", "materialize"):
                # type-transparent: result kind is the first argument's
                # (FunctionsConditional.cpp least/greatest supertype)
                inner = _split_top(toks[2:-1], ",")
                if inner:
                    return _syntactic_kind(inner[0])
    return None


_ARITH_OPS = {"+", "-", "*", "/", "%", "DIV"}


def _fold_date_arith(pieces: list[str], kinds: list[str | None]) -> None:
    """Rewrite Date/DateTime +/- N and Date-Date in place (the
    reference's DateTime arithmetic is in seconds, Date in days —
    FunctionsDateTime / FunctionsArithmetic type dispatch).

    Conservative: both neighbours must be operands (not operators) and
    the fold is skipped when a tighter-binding * / % follows, so plain
    numeric expressions and precedence-sensitive forms pass through
    untouched (Spark then reports the same error it would today).
    """
    j = 1
    while j < len(pieces) - 1:
        op = pieces[j]
        if op not in ("+", "-"):
            j += 1
            continue
        lk, rk = kinds[j - 1], kinds[j + 1]
        # a Date/DateTime operand binds the seconds/days side as one
        # unit — collapse tighter-binding multiplicative runs of plain
        # numbers around the +/- first (now() - 24*60*60, 24*60 + now())
        if lk in ("date", "datetime") and rk is None:
            e = j + 1
            while (
                e + 2 < len(pieces)
                and pieces[e + 1] in ("*", "%", "DIV")
                and kinds[e + 2] is None
            ):
                e += 2
            if e > j + 1:
                pieces[j + 1 : e + 1] = ["(" + " ".join(pieces[j + 1 : e + 1]) + ")"]
                kinds[j + 1 : e + 1] = [None]
        elif op == "+" and rk in ("date", "datetime") and lk is None:
            s = j - 1
            while s - 2 >= 0 and pieces[s - 1] in ("*", "%", "DIV") and kinds[s - 2] is None:
                s -= 2
            if s < j - 1:
                pieces[s : j] = ["(" + " ".join(pieces[s:j]) + ")"]
                kinds[s : j] = [None]
                j = s + 1
        lk, rk = kinds[j - 1], kinds[j + 1]
        l, r = pieces[j - 1], pieces[j + 1]
        if (
            l in _ARITH_OPS
            or r in _ARITH_OPS
            or (j >= 2 and pieces[j - 2] in ("*", "/", "%", "DIV"))
            or (j + 2 < len(pieces) and pieces[j + 2] in ("*", "/", "%", "DIV"))
        ):
            j += 1
            continue
        rep: str | None = None
        krep: str | None = None
        if op == "-" and lk == "date" and rk == "date":
            rep = f"datediff({l}, {r})"
        elif op == "-" and lk == "datetime" and rk == "datetime":
            rep = f"(unix_timestamp({l}) - unix_timestamp({r}))"
        elif lk == "date" and rk is None:
            fn = "date_add" if op == "+" else "date_sub"
            rep, krep = f"{fn}({l}, CAST({r} AS INT))", "date"
        elif lk == "datetime" and rk is None:
            n = r if op == "+" else f"-({r})"
            rep, krep = f"timestampadd(SECOND, {n}, {l})", "datetime"
        elif op == "+" and lk is None and rk == "date":
            rep, krep = f"date_add({r}, CAST({l} AS INT))", "date"
        elif op == "+" and lk is None and rk == "datetime":
            rep, krep = f"timestampadd(SECOND, {l}, {r})", "datetime"
        if rep is not None:
            pieces[j - 1 : j + 2] = [rep]
            kinds[j - 1 : j + 2] = [krep]
            continue
        j += 1


def _fold_div(pieces: list[str], kinds: list[str | None]) -> None:
    """CH ``/`` is always Float64 division with IEEE semantics — x/0 is
    ±Infinity and 0/0 is NaN (FunctionsArithmetic.h DivideFloatingImpl
    + NumberTraits ResultOfFloatingPointDivision); Spark returns NULL.
    Fold each multiplicative run containing '/' left-associatively."""
    j = 0
    while j < len(pieces):
        if pieces[j] != "/" or j == 0 or j == len(pieces) - 1:
            j += 1
            continue
        s = j - 1
        while s - 2 >= 0 and pieces[s - 1] in ("*", "/", "%"):
            s -= 2
        e = j + 1
        while e + 2 < len(pieces) and pieces[e + 1] in ("*", "/", "%"):
            e += 2
        run = pieces[s : e + 1]
        if any(p in _ARITH_OPS or p.upper() in ("AND", "OR", "NOT") for p in run[::2]):
            j += 1
            continue
        acc = run[0]
        k = 1
        while k < len(run):
            op, r = run[k], run[k + 1]
            if op == "/":
                acc = (
                    f"(CASE WHEN ({r}) = 0 THEN "
                    f"(CASE WHEN ({acc}) > 0 THEN CAST('Infinity' AS DOUBLE) "
                    f"WHEN ({acc}) < 0 THEN CAST('-Infinity' AS DOUBLE) "
                    f"ELSE CAST('NaN' AS DOUBLE) END) "
                    f"ELSE CAST(({acc}) AS DOUBLE) / ({r}) END)"
                )
            else:
                acc = f"(({acc}) {op} ({r}))"
            k += 2
        pieces[s : e + 1] = [acc]
        kinds[s : e + 1] = [None]
        j = s + 1


def _fold_case(pieces: list[str], kinds: list[str | None]) -> None:
    """Searched ``CASE WHEN <UInt8> THEN`` conditions get a BOOLEAN cast
    (the reference accepts numeric conditions —
    FunctionsConditional.cpp caseWithoutExpr; Spark demands BOOLEAN).
    The simple ``CASE expr WHEN v`` form compares values and is left
    untouched."""
    i = 0
    stack: list[bool] = []
    while i < len(pieces):
        p = pieces[i].upper()
        if p == "CASE":
            stack.append(i + 1 < len(pieces) and pieces[i + 1].upper() == "WHEN")
        elif p == "END":
            if stack:
                stack.pop()
        elif p == "WHEN" and stack and stack[-1]:
            d = 0
            k = i + 1
            while k < len(pieces):
                q = pieces[k].upper()
                if q == "CASE":
                    d += 1
                elif q == "END":
                    d -= 1
                elif q == "THEN" and d == 0:
                    break
                k += 1
            if k < len(pieces) and k > i + 1:
                cond = " ".join(pieces[i + 1 : k])
                pieces[i + 1 : k] = [f"CAST(({cond}) AS BOOLEAN)"]
                kinds[i + 1 : k] = [None]
        i += 1


def _fold_case_f32_defect(
    pieces: list[str],
    kinds: list[str | None],
    tok_slices: list[list[Token]],
    ctx: Ctx,
) -> None:
    """``CASE <expr> WHEN … ELSE … END`` whose result type is Float32
    replays the reference's transform defect (golden 00328).

    caseWithExpr (FunctionsConditional.h:1800) lowers to
    transform(x, [froms], [tos], default).  When
    getSmallestCommonNumericType(tos, default) is Float32 — every arm
    in {Int8,Int16,UInt8,UInt16,Float32} with at least one Float32 —
    the to-values sit in Float64-typed Fields whose UInt64 bit pattern
    is memcpy'd into the 4-byte result slot
    (FunctionsTransform.h:528 `memcpy(&dst[i], &it->second,
    sizeof(dst[i]))`), i.e. the LOW 32 bits of the double; the default
    takes `Field::get<Float32>()`, the same reinterpret
    (FunctionsTransform.h:345).  Small integers' doubles have zero low
    words, so every such CASE yields 0."""
    _F32_SET = {"Int8", "Int16", "UInt8", "UInt16", "Float32"}
    i = 0
    while i < len(pieces):
        if (
            pieces[i].upper() != "CASE"
            or i + 1 >= len(pieces)
            or pieces[i + 1].upper() == "WHEN"
        ):
            i += 1
            continue
        # matching END at depth 0
        d = 0
        end_idx = None
        j = i + 1
        while j < len(pieces):
            q = pieces[j].upper()
            if q == "CASE":
                d += 1
            elif q == "END":
                if d == 0:
                    end_idx = j
                    break
                d -= 1
            j += 1
        if end_idx is None:
            i += 1
            continue
        # THEN/ELSE arm types at depth 0; defect needs the 4-arg
        # transform, i.e. an ELSE arm
        arm_types: list[str | None] = []
        has_else = False
        d = 0
        j = i + 1
        while j < end_idx:
            q = pieces[j].upper()
            if q == "CASE":
                d += 1
            elif q == "END":
                d -= 1
            elif d == 0 and q in ("THEN", "ELSE"):
                has_else = has_else or q == "ELSE"
                k2 = j + 1
                d2 = 0
                while k2 < end_idx:
                    q2 = pieces[k2].upper()
                    if q2 == "CASE":
                        d2 += 1
                    elif q2 == "END":
                        d2 -= 1
                    elif d2 == 0 and q2 in ("WHEN", "ELSE"):
                        break
                    k2 += 1
                arm_toks: list[Token] = []
                for sl in tok_slices[j + 1 : k2]:
                    arm_toks.extend(sl)
                arm_types.append(_infer_expr_ch_type(arm_toks, ctx))
                j = k2
                continue
            j += 1
        if (
            not has_else
            or not arm_types
            or any(t not in _F32_SET for t in arm_types)
            or "Float32" not in arm_types
        ):
            i = end_idx + 1
            continue
        whole = " ".join(pieces[i : end_idx + 1])
        low = f"(ch_f64_bits(CAST(({whole}) AS DOUBLE)) & 4294967295)"
        formula = (
            "((CASE WHEN __cfb >= 2147483648 THEN -1.0D ELSE 1.0D END) * "
            "(CASE WHEN (shiftright(__cfb, 23) & 255) = 0 "
            "THEN CAST(__cfb & 8388607 AS DOUBLE) * power(2.0D, -149) "
            "WHEN (shiftright(__cfb, 23) & 255) = 255 THEN "
            "(CASE WHEN (__cfb & 8388607) = 0 THEN CAST('Infinity' AS DOUBLE) "
            "ELSE CAST('NaN' AS DOUBLE) END) "
            "ELSE (1.0D + CAST(__cfb & 8388607 AS DOUBLE) / 8388608.0D) * "
            "power(2.0D, CAST(shiftright(__cfb, 23) & 255 AS INT) - 127) END))"
        )
        out = (
            f"element_at(transform(array({low}), "
            f"__cfb -> {formula}), 1)"
        )
        whole_toks: list[Token] = []
        for sl in tok_slices[i : end_idx + 1]:
            whole_toks.extend(sl)
        pieces[i : end_idx + 1] = [out]
        kinds[i : end_idx + 1] = [None]
        tok_slices[i : end_idx + 1] = [whole_toks]
        i += 1


_BIG_LIT_RE = re.compile(r"\b(\d{19,})\b")


def _fold_u64_wrap_mod(
    pieces: list[str],
    kinds: list[str | None],
    tok_slices: list[list[Token]],
    ctx: Ctx,
) -> None:
    """UInt64 modulo with mod-2^64 wraparound on the left side.

    ``(number + 0x8ffc...) * 0x66bb... % 131`` (golden 00264): the
    reference wraps every +,-,* mod 2^64 and takes the UNSIGNED
    remainder.  A bare literal past Int64 max renders as DECIMAL(20,0)
    in Spark, whose exact arithmetic overflows (NULL) instead of
    wrapping.  Re-fold the multiplicative run feeding ``%`` through
    signed-BIGINT bit patterns (Java long arithmetic wraps mod 2^64)
    and emit pmod over the unsigned value.  Triggered only when the
    run carries a literal beyond Int64 range and the divisor is a
    plain literal — everything else keeps its current rendering."""
    from . import hash_sql as H

    int64_max = (1 << 63) - 1

    def to_bits(p: str) -> str:
        # any UInt64-valued rendering (BIGINT bits or DECIMAL) → the
        # signed-BIGINT bit pattern of its value mod 2^64
        dec = (
            f"pmod(CAST({p} AS DECIMAL(38, 0)), "
            f"CAST(18446744073709551616 AS DECIMAL(38, 0)))"
        )
        return H.u64_to_signed(dec)

    j = 1
    while j < len(pieces) - 1:
        if pieces[j] != "%":
            j += 1
            continue
        # maximal multiplicative run ending at j-1
        s = j - 1
        while s - 2 >= 0 and pieces[s - 1] in ("*", "%", "DIV"):
            s -= 2
        run = pieces[s:j]
        has_big = any(
            int(m) > int64_max
            for p in run[::2]
            for m in _BIG_LIT_RE.findall(p)
        )
        rhs = pieces[j + 1]
        if (
            not has_big
            or any(op != "*" for op in run[1::2])
            or not re.fullmatch(r"\d+", rhs.strip())
        ):
            j += 1
            continue
        left_toks: list[Token] = []
        for sl in tok_slices[s:j]:
            left_toks.extend(sl)
        t = _infer_expr_ch_type(left_toks, ctx)
        if t != "UInt64":
            j += 1
            continue
        run_toks = list(left_toks)
        for sl in tok_slices[j : j + 2]:
            run_toks.extend(sl)
        acc = to_bits(run[0])
        for p in run[2::2]:
            acc = f"({acc} * {to_bits(p)})"
        out = f"CAST(pmod({H.signed_to_u64(acc)}, {rhs}) AS BIGINT)"
        pieces[s : j + 2] = [out]
        kinds[s : j + 2] = [None]
        tok_slices[s : j + 2] = [run_toks]
        j = s + 1


def _fold_array_in(
    pieces: list[str],
    kinds: list[str | None],
    tok_slices: list[list[Token]],
    ctx: Ctx,
) -> None:
    """Array IN set: membership of ANY element (Set::execute over an
    array column checks elements — `[1,2,3] IN (3,4,5)` is 1, golden
    00132).  NOT IN is NOT the negation: it asks whether ANY element is
    absent from the set (Set::executeArray applies the negative per
    element, then ORs — `[1,2,3] NOT IN (1)` is 1, `NOT IN (1,2,3)`
    is 0)."""
    j = 1
    while j < len(pieces) - 1:
        if pieces[j].upper() != "IN":
            j += 1
            continue
        li = j - 1
        neg = False
        if li >= 0 and pieces[li].upper() == "NOT":
            neg = True
            li -= 1
        if li < 0:
            j += 1
            continue
        lhs_kind_array = kinds[li] == "array" or (
            (_infer_expr_ch_type(tok_slices[li], ctx) or "").startswith(
                "Array("
            )
        )
        rhs = pieces[j + 1]
        if not lhs_kind_array or not rhs.lstrip().startswith("("):
            j += 1
            continue
        if re.match(r"\(\s*SELECT", rhs, re.I):
            j += 1
            continue
        out = (
            f"exists({pieces[li]}, __aie -> __aie NOT IN {rhs})"
            if neg
            else f"exists({pieces[li]}, __aie -> __aie IN {rhs})"
        )
        run_toks: list[Token] = []
        for sl in tok_slices[li : j + 2]:
            run_toks.extend(sl)
        pieces[li : j + 2] = [out]
        kinds[li : j + 2] = [None]
        tok_slices[li : j + 2] = [run_toks]
        j = li + 1


def _rw_seq(
    tokens: list[Token], i: int, ctx: Ctx, stop: set[str]
) -> tuple[str, int]:
    """Rewrite a run of expression tokens until a stop punct at depth 0.

    Handles ternary ``? :`` at this level by collecting the three arms.
    """
    pieces: list[str] = []
    kinds: list[str | None] = []
    tok_slices: list[list[Token]] = []
    q_pos: int | None = None
    c_pos: int | None = None
    not_pos: list[int] = []
    while i < len(tokens):
        t = tokens[i]
        if t.text in stop:
            break
        if (
            t.text == "-"
            and i + 1 < len(tokens)
            and tokens[i + 1].kind == "number"
            and tokens[i + 1].text.isdigit()
            and int(tokens[i + 1].text) > (1 << 63)
        ):
            # UNARY minus over an integer literal past the Int64 range:
            # ParserNumber's strtoll overflows and re-reads the whole
            # signed token with strtod → Float64 (-0xFFFFFFFFFFFFFFFF
            # = -1.8446744073709552e19, golden 00031).  Binary minus
            # keeps exact arithmetic.
            prev = tokens[i - 1] if i > 0 else None
            has_left = prev is not None and (
                prev.kind in ("number", "string", "qident", "raw")
                or prev.text in (")", "]")
                or (
                    prev.kind == "ident"
                    and prev.text.upper() not in _NON_OPERAND_KWS
                )
            )
            if not has_left:
                piece = f"CAST({-float(int(tokens[i + 1].text))!r} AS DOUBLE)"
                piece, j = _postfix(piece, tokens, i + 2, ctx)
                pieces.append(piece)
                kinds.append(None)
                tok_slices.append(tokens[i:j])
                i = j
                continue
        if (
            t.is_kw("NOT")
            and not (i > 0 and tokens[i - 1].is_kw("IS"))
            and not (
                i + 1 < len(tokens)
                and tokens[i + 1].is_kw("IN", "LIKE", "BETWEEN")
            )
        ):
            # unary logical NOT: the reference accepts any numeric
            # (UInt8 truthiness, FunctionsLogical.cpp); Spark requires
            # BOOLEAN, so the operand gets a CAST (see below)
            not_pos.append(len(pieces))
            pieces.append("NOT")
            kinds.append(None)
            tok_slices.append([t])
            i += 1
            continue
        if t.is_kw("GLOBAL") and i + 1 < len(tokens) and (
            tokens[i + 1].is_kw("IN") or tokens[i + 1].is_kw("NOT")
        ):
            # GLOBAL IN → IN; broadcast shipping is Catalyst's call
            # (ExpressionAnalyzer.cpp:479-574)
            i += 1
            continue
        if t.text == "?":
            q_pos = len(pieces)
            pieces.append("?")
            kinds.append(None)
            tok_slices.append([t])
            i += 1
            continue
        if t.text == ":" and q_pos is not None:
            c_pos = len(pieces)
            pieces.append(":")
            kinds.append(None)
            tok_slices.append([t])
            i += 1
            continue
        start = i
        prev_in = bool(pieces) and pieces[-1].upper() == "IN"
        piece, i = _rw_item(tokens, i, ctx, in_list=prev_in)
        if prev_in and not piece.lstrip().startswith("("):
            # `x IN table_name` probes a Set/any TABLE (StorageSet /
            # CreateSetFromSubquery over the table's rows)
            _in_sl = tokens[start:i]
            _tname = None
            if len(_in_sl) == 1 and _in_sl[0].kind in ("ident", "qident"):
                _tname = _in_sl[0].text.strip("`")
            elif (
                len(_in_sl) == 3
                and _in_sl[1].text == "."
                and _in_sl[0].kind in ("ident", "qident")
            ):
                _tname = (
                    f"{_in_sl[0].text.strip('`')}.{_in_sl[2].text.strip('`')}"
                )
            _v = _resolve_view_name(_tname, ctx) if _tname else None
            if _v is not None:
                piece = f"(SELECT * FROM {_v})"
            else:
                # scalar IN-rhs: `x IN f(y)` is equality membership in
                # a 1-element set (Set.cpp accepts a scalar); Spark's
                # parser demands a parenthesized list
                piece = f"({piece})"
        if (
            prev_in
            and len(pieces) >= 2
            and re.match(r"\(\s*SELECT", piece, re.I)
        ):
            # NULL probe into a Set yields NULL in the reference
            # (Nullable key); Spark's IN-subquery rewrite gives FALSE
            # — guard the probe.  Only for a single-piece LHS directly
            # before [NOT] IN.
            k = len(pieces) - 1
            neg = k >= 1 and pieces[k - 1].upper() == "NOT"
            lhs_idx = k - (2 if neg else 1)
            if lhs_idx >= 0 and (
                lhs_idx == 0
                or pieces[lhs_idx - 1].upper()
                in ("AND", "OR", "XOR", "WHEN", "THEN", "ELSE", "(", ",")
            ):
                lhs = pieces[lhs_idx]
                whole = f"{lhs} {'NOT ' if neg else ''}IN {piece}"
                del pieces[lhs_idx:]
                del kinds[lhs_idx:]
                del tok_slices[lhs_idx:]
                pieces.append(
                    f"(CASE WHEN ({lhs}) IS NULL THEN NULL "
                    f"ELSE ({whole}) END)"
                )
                kinds.append(None)
                tok_slices.append([])
                continue
        pieces.append(piece)
        kinds.append(_syntactic_kind(tokens[start:i]))
        tok_slices.append(tokens[start:i])
    # Enum vs numeric comparison: the reference compares by the enum
    # VALUE (DataTypeEnum); Spark would coerce the number to STRING
    _CMPOPS = {"=", "==", "!=", "<>", "<", ">", "<=", ">="}
    for _k in range(1, len(pieces) - 1):
        if pieces[_k] not in _CMPOPS:
            continue
        _lt = (
            _infer_expr_ch_type(tok_slices[_k - 1], ctx)
            if tok_slices[_k - 1] else None
        )
        _rt = (
            _infer_expr_ch_type(tok_slices[_k + 1], ctx)
            if tok_slices[_k + 1] else None
        )

        def _is_num(tt, sl):
            return (tt or "").startswith(("UInt", "Int", "Float")) or (
                len(sl) == 1 and sl[0].kind == "number"
            )

        if (_lt or "").startswith("Enum") and _is_num(_rt, tok_slices[_k + 1]):
            pieces[_k - 1] = (
                _enum_value_sql(pieces[_k - 1], _lt) or pieces[_k - 1]
            )
        elif (_rt or "").startswith("Enum") and _is_num(_lt, tok_slices[_k - 1]):
            pieces[_k + 1] = (
                _enum_value_sql(pieces[_k + 1], _rt) or pieces[_k + 1]
            )
        # a comparison RESULT is UInt8 in the reference and freely
        # compares with numbers ((x = y) > 0); Spark's BOOLEAN does
        # not — cast the boolean-valued side to INT
        for _side in (_k - 1, _k + 1):
            _tt = _lt if _side == _k - 1 else _rt
            _sl = tok_slices[_side]
            if _tt in ("UInt8", "Nullable(UInt8)") and any(
                t.text in ("=", "==", "!=", "<>", "<", ">", "<=", ">=")
                or t.is_kw("IN", "LIKE", "NOT", "AND", "OR")
                for t in _sl
            ):
                pieces[_side] = f"CAST(({pieces[_side]}) AS INT)"
    if q_pos is not None and c_pos is not None:
        # a lambda arrow binds first: `x -> cond ? a : b` — the
        # ternary is the lambda BODY, the formals stay outside
        _arrow = max(
            (k for k, p in enumerate(pieces[:q_pos]) if p == "->"),
            default=None,
        )
        _lam_head = ""
        if _arrow is not None:
            _lam_head = " ".join(pieces[: _arrow + 1]) + " "
            pieces = pieces[_arrow + 1 :]
            q_pos -= _arrow + 1
            c_pos -= _arrow + 1
        cond = " ".join(pieces[:q_pos])
        then = " ".join(pieces[q_pos + 1 : c_pos])
        other = " ".join(pieces[c_pos + 1 :])
        # constant condition folds at translate time (the reference
        # folds if(const, a, b) during analysis —
        # ExpressionAnalyzer.cpp:224 — so the dead arm may reference
        # columns that do not exist; it must never reach the resolver)
        lit = cond.strip()
        while lit.startswith("(") and lit.endswith(")"):
            lit = lit[1:-1].strip()
        # a scalar subquery over a translate-time constant (e.g.
        # hasColumnInTable folds to 0/1) is itself constant
        m_sq = re.fullmatch(r"SELECT\s+(\d+)(?:\s+FROM\s+\(SELECT\s+0\s+AS\s+dummy\))?", lit, re.I | re.S)
        if m_sq:
            lit = m_sq.group(1)
        if re.fullmatch(r"\d+", lit):
            return _lam_head + (then if int(lit) != 0 else other), i
        # UInt8 truthiness (FunctionsConditional.cpp): `x % 2 ? a : b`.
        # A NULL condition yields NULL (Nullable branch of
        # FunctionsConditional.cpp), NOT the else arm as Spark's
        # false-on-NULL `if` would; the IS NULL guard constant-folds
        # away for non-nullable conditions.
        return (
            _lam_head
            + f"if(({cond}) IS NULL, NULL, "
            f"if(CAST(({cond}) AS BOOLEAN), {then}, {other}))",
            i,
        )
    _fold_date_arith(pieces, kinds)
    _fold_u64_wrap_mod(pieces, kinds, tok_slices, ctx)
    _fold_array_in(pieces, kinds, tok_slices, ctx)
    _fold_div(pieces, kinds)
    _fold_case(pieces, kinds)
    _fold_case_f32_defect(pieces, kinds, tok_slices, ctx)
    # NOT binds looser than comparisons but tighter than AND/OR: wrap
    # the operand run (everything up to AND/OR or end) with a boolean
    # cast so `NOT 0` / `NOT x = y` both work; innermost (rightmost)
    # NOT first so `NOT NOT 1` nests.
    for pos in reversed(not_pos):
        if pos >= len(pieces) or pieces[pos] != "NOT":
            continue  # consumed by an inner rewrite
        end = pos + 1
        while end < len(pieces) and pieces[end].upper() not in ("AND", "OR"):
            end += 1
        operand = " ".join(pieces[pos + 1 : end])
        pieces[pos:end] = [f"(NOT CAST(({operand}) AS BOOLEAN))"]
    return " ".join(pieces), i


_RESERVED_OPERAND_KWS = {
    "CASE", "WHEN", "THEN", "ELSE", "END", "AND", "OR", "XOR",
    "LIKE", "BETWEEN", "IS", "NULL", "INTERVAL", "DISTINCT",
    "AS", "ASC", "DESC",
}

# keywords that cannot END an operand (for infix-vs-call disambiguation)
_NON_OPERAND_KWS = _RESERVED_OPERAND_KWS | {
    "SELECT", "WHERE", "PREWHERE", "HAVING", "BY", "ON", "IN", "NOT",
    "UNION", "ALL", "FROM", "GROUP", "ORDER", "LIMIT",
}


_CH_TYPE_MAP = {
    "UINT8": "SMALLINT", "UINT16": "INT", "UINT32": "BIGINT",
    "UINT64": "BIGINT", "INT8": "TINYINT", "INT16": "SMALLINT",
    "INT32": "INT", "INT64": "BIGINT", "FLOAT32": "FLOAT",
    "FLOAT64": "DOUBLE", "STRING": "STRING", "DATE": "DATE",
    "DATETIME": "TIMESTAMP",
}


def _num_parse_sql(e: str, ch_t: str) -> str | None:
    """CAST of a numeric text element to a CH integer type with the
    reference's wraparound (FunctionsConversion parse + cut to width;
    unsigned widths need an explicit pmod — Spark's narrower type
    would otherwise saturate at the signed range)."""
    up = ch_t.upper()
    mapped = _CH_TYPE_MAP.get(up)
    if mapped is None:
        return None
    if up.startswith("UINT") and up != "UINT64":
        width = {"UINT8": 256, "UINT16": 65536, "UINT32": 4294967296}[up]
        return f"CAST(pmod(CAST({e} AS BIGINT), {width}) AS {mapped})"
    return f"CAST({e} AS {mapped})"


def _render_ch_cast(
    expr: str,
    type_toks: list[Token],
    ctx: Ctx,
    src_ch: str | None = None,
) -> str | None:
    """CAST target type translation.  Returns None for types Spark
    already understands (DECIMAL, ARRAY<...>, …) — generic handling
    then renders the CAST verbatim."""
    if not type_toks:
        return None
    head = type_toks[0].text
    up = head.upper()
    if len(type_toks) == 1:
        if up == "NULL":
            # DataTypeNull: the only value is NULL
            return "NULL"
        mapped = _CH_TYPE_MAP.get(up)
        return f"CAST({expr} AS {mapped})" if mapped else None
    if type_toks[1].text == "(":
        args = _split_top(type_toks[2:-1], ",")
        if (src_ch or "").replace("Nullable(", "").startswith("String") and up in (
            "ARRAY", "TUPLE"
        ):
            # string → composite: parse the CH text form back
            # (FunctionsConversion.cpp ConvertOrZeroImpl / readQuoted
            # family; numeric elements only)
            if up == "ARRAY" and len(args) == 1 and len(args[0]) == 1:
                pe = _num_parse_sql("trim(_pe)", args[0][0].text)
                if pe is not None:
                    body = (
                        f"regexp_replace(trim({expr}), '^\\\\[|\\\\]$', '')"
                    )
                    return (
                        f"(CASE WHEN length({body}) = 0 THEN "
                        f"CAST(array() AS ARRAY<{_CH_TYPE_MAP[args[0][0].text.upper()]}>) "
                        f"ELSE transform(split({body}, ','), _pe -> {pe}) END)"
                    )
            if up == "TUPLE" and all(len(a) == 1 for a in args):
                parts = (
                    f"split(regexp_replace(trim({expr}), "
                    f"'^\\\\(|\\\\)$', ''), ',')"
                )
                fields = []
                for k, a in enumerate(args):
                    pe = _num_parse_sql(
                        f"trim(element_at({parts}, {k + 1}))", a[0].text
                    )
                    if pe is None:
                        return None
                    fields.append(f"'col{k + 1}', {pe}")
                return f"named_struct({', '.join(fields)})"
        if up in ("ENUM8", "ENUM16"):
            # 'Name' = value pairs: render value→name (DataTypeEnum
            # text form); string inputs pass through when they match a
            # name (lenient non-ANSI coercion handles the mixed CASE)
            whens = []
            names = []
            for pair in args:
                # pair tokens: 'Name' = value
                name_tok = pair[0].text
                val = pair[-1].text
                if len(pair) >= 2 and pair[-2].text == "-":
                    val = "-" + val
                names.append(name_tok)
                whens.append(f"WHEN ({expr}) = {val} THEN {name_tok}")
            in_names = ", ".join(names)
            ladder = " ".join(whens)
            return (
                f"(CASE WHEN CAST({expr} AS STRING) IN ({in_names}) "
                f"THEN CAST({expr} AS STRING) {ladder} END)"
            )
        if up == "FIXEDSTRING":
            return f"rpad(CAST({expr} AS STRING), {args[0][0].text}, chr(0))"
        if up == "NULLABLE":
            return _render_ch_cast(expr, args[0], ctx) or f"CAST({expr} AS {_rewrite(args[0], ctx)})"
        if up == "ARRAY":
            elem = args[0][0].text.upper() if len(args[0]) == 1 else None
            mapped = _CH_TYPE_MAP.get(elem or "")
            if mapped:
                return f"CAST({expr} AS ARRAY<{mapped}>)"
            # element type needs its own translation (Enum inside
            # Array, nested Array): apply it element-wise
            sub = _render_ch_cast("_ce", args[0], ctx)
            if sub is not None:
                return f"transform({expr}, _ce -> {sub})"
    return None


def _rw_row_elem(toks: list[Token], ctx: Ctx) -> str:
    """One element of an IN list: a paren tuple stays in row form."""
    if (
        toks
        and toks[0].text == "("
        and _match_paren(toks, 0) == len(toks) - 1
    ):
        inner = _split_top(toks[1:-1], ",")
        if len(inner) > 1:
            return f"({', '.join(_rewrite(p, ctx) for p in inner)})"
    return _rewrite(toks, ctx)


def _rw_item(
    tokens: list[Token], i: int, ctx: Ctx, in_list: bool = False
) -> tuple[str, int]:
    t = tokens[i]

    # reserved expression keywords are neither operands nor function
    # names: emit verbatim so `THEN [1,2]` is not parsed as indexing
    # THEN and `WHEN(x)` is not a call (ExpressionListParsers.cpp
    # treats these as grammar, not identifiers).  LIKE/AND/OR/XOR stay
    # callable — the reference registers them as functions too
    # (FunctionsStringSearch.cpp like, FunctionsLogical.cpp and/or/xor).
    if t.kind == "ident" and t.text.upper() in _RESERVED_OPERAND_KWS:
        # function form only in operand position: `like(s, p)` is a
        # call, `s LIKE (p)` is infix (left operand precedes)
        callable_kw = t.text.upper() in ("LIKE", "AND", "OR", "XOR")
        prev = tokens[i - 1] if i > 0 else None
        has_left_operand = prev is not None and (
            prev.kind in ("number", "string", "qident")
            or prev.text in (")", "]")
            or (prev.kind == "ident" and prev.text.upper() not in _NON_OPERAND_KWS)
        )
        if not (
            callable_kw
            and not has_left_operand
            and i + 1 < len(tokens)
            and tokens[i + 1].text == "("
        ):
            return t.text.upper(), i + 1

    # nan / inf literals (ParserNumber accepts them; Spark has no
    # keyword form) — only when not a column access or function call
    if (
        t.kind == "ident"
        and t.text.lower() in ("nan", "inf", "infinity")
        and not (i + 1 < len(tokens) and tokens[i + 1].text in ("(", "."))
        and not (i > 0 and tokens[i - 1].text == ".")
    ):
        lit = "'NaN'" if t.text.lower() == "nan" else "'Infinity'"
        return _postfix(f"CAST({lit} AS DOUBLE)", tokens, i + 1, ctx)

    # CAST(expr AS ChType): map the reference's type names to Spark's
    # (DataTypeFactory.cpp registrations; §1.2 type table)
    if (
        t.kind == "ident"
        and t.text.upper() == "CAST"
        and i + 1 < len(tokens)
        and tokens[i + 1].text == "("
    ):
        close = _match_paren(tokens, i + 1)
        inner = tokens[i + 2 : close]
        as_pos = None
        d = 0
        for k, tk in enumerate(inner):
            if tk.text in ("(", "["):
                d += 1
            elif tk.text in (")", "]"):
                d -= 1
            elif d == 0 and tk.is_kw("AS"):
                as_pos = k
        if as_pos is not None:
            expr_sql = _rewrite(inner[:as_pos], ctx)
            ttoks = inner[as_pos + 1 :]
            # CAST(composite AS String) == toString (FunctionsConversion)
            if len(ttoks) == 1 and ttoks[0].text.upper() == "STRING":
                ex = inner[:as_pos]
                if (
                    len(ex) >= 3
                    and ex[0].kind == "ident"
                    and ex[0].text == "countState"
                    and ex[1].text == "("
                ):
                    return _postfix(
                        _count_state_text_sql(expr_sql), tokens, close + 1, ctx
                    )
                _ct = _infer_expr_ch_type(inner[:as_pos], ctx) or ""
                if _ct.startswith(("Tuple(", "Array(")):
                    out_sql = _ch_text_sql(expr_sql, _ct)
                    if out_sql is not None:
                        return _postfix(out_sql, tokens, close + 1, ctx)
            cast_sql = _render_ch_cast(
                expr_sql, ttoks, ctx,
                src_ch=_infer_expr_ch_type(inner[:as_pos], ctx),
            )
            if cast_sql is not None:
                return _postfix(cast_sql, tokens, close + 1, ctx)
        # fall through to generic call handling (native Spark types)

    # parenthesized: subquery or grouping/tuple
    if t.text == "(":
        close = _match_paren(tokens, i)
        inner = tokens[i + 1 : close]
        if inner and inner[0].is_kw("SELECT"):
            # IN-subquery column lists keep their duplicates: the Set is
            # built over the full tuple width (00217 — `(1, 1) IN
            # (SELECT 1 AS a, a)`), unlike Block-level name dedup
            saved_dedup = ctx.no_select_dedup
            if in_list:
                ctx.no_select_dedup = True
            else:
                # SCALAR subquery keeps its full column multiplicity —
                # a width-2 row becomes a Tuple even when one column is
                # a bare reference to the other's alias
                # (executeScalarSubqueries; 00211's (SELECT 2 AS x, x))
                ctx.no_select_dedup = True
            try:
                sub = _translate_union(inner, ctx)
            finally:
                ctx.no_select_dedup = saved_dedup
            # IN-subquery: the reference's Set skips NULL rows
            # (Set.cpp insertFromBlock over non-Nullable key columns),
            # so a no-match probe yields 0 — Spark's three-valued IN
            # would yield NULL when the set contains NULLs.  Filter
            # them out of the set side.
            if in_list and ctx.schema_of_sql is not None:
                schema = ctx.schema_of_sql(f"(\n{sub}\n)")
                if schema:
                    conds = " AND ".join(
                        f"`{c}` IS NOT NULL" for c, _t in schema
                    )
                    sub = (
                        f"SELECT * FROM (\n{sub}\n) "
                        f"{ctx.gensym('innn')} WHERE {conds}"
                    )
            # multi-column scalar subquery = a Tuple in the reference
            # (ExpressionAnalyzer executeScalarSubqueries wraps rows of
            # width > 1); Spark only allows single-column scalars —
            # wrap the projection into a positional struct
            if not in_list and ctx.schema_of_sql is not None:
                schema = ctx.schema_of_sql(f"(\n{sub}\n)")
                if schema and len(schema) > 1:
                    ns = ", ".join(
                        f"'col{k + 1}', `{c}`" for k, (c, _t) in enumerate(schema)
                    )
                    sub = (
                        f"SELECT named_struct({ns}) FROM (\n{sub}\n) "
                        f"AS {ctx.gensym('scl')}"
                    )
            return _postfix(f"({sub})", tokens, close + 1, ctx)
        parts_toks = _split_top(inner, ",")
        if len(parts_toks) > 1:
            # tuple literal (ExpressionElementParsers.cpp ParserTuple):
            # named_struct with positional colN fields so arrays of
            # tuples unify and = compares across sources.  Inside an IN
            # list (or as its LHS) keep Spark's row-constructor form.
            nxt = tokens[close + 1] if close + 1 < len(tokens) else None
            nxt2 = tokens[close + 2] if close + 2 < len(tokens) else None
            # `(a, b) -> body` is a lambda parameter list, not a tuple
            # (ExpressionElementParsers.cpp ParserLambdaExpression)
            if nxt is not None and nxt.text == "->":
                plist = ", ".join(
                    tk.text for tk in inner if tk.kind in ("ident", "qident")
                )
                return _postfix(f"({plist})", tokens, close + 1, ctx)
            lhs_of_in = nxt is not None and (
                nxt.is_kw("IN", "GLOBAL")
                or (nxt.is_kw("NOT") and nxt2 is not None and nxt2.is_kw("IN"))
            )
            if lhs_of_in and not in_list:
                # tuple IN a literal tuple list → OR of element-wise
                # equalities: Spark's struct IN refuses mixed field
                # types (BIGINT column vs INT literal) that the
                # reference's Set coerces; per-element `=` coerces
                # independently.  NULL-containing tuples never match
                # (Set semantics) and drop out.
                j = close + 1
                neg = False
                if tokens[j].is_kw("NOT"):
                    neg, j = True, j + 1
                if j < len(tokens) and tokens[j].is_kw("GLOBAL"):
                    j += 1
                if (
                    j < len(tokens)
                    and tokens[j].is_kw("IN")
                    and j + 1 < len(tokens)
                    and tokens[j + 1].text == "("
                ):
                    rclose = _match_paren(tokens, j + 1)
                    rhs_inner = tokens[j + 2 : rclose]
                    lhs_parts = _split_top(inner, ",")
                    relems = _split_top(rhs_inner, ",") if rhs_inner else []
                    all_tuples = all(
                        p and p[0].text == "("
                        and _match_paren(p, 0) == len(p) - 1
                        for p in relems
                    )
                    # a flat list of matching arity whose element
                    # SHAPES match the lhs components is ONE tuple:
                    # (1, '') IN (-1, '') and the mixed
                    # (number, tuple) IN (3, (2, 3)) — ParserTuple
                    def _lhs_is_tup(l: list[Token]) -> bool:
                        return bool(
                            l
                            and l[0].text == "("
                            and _match_paren(l, 0) == len(l) - 1
                        ) or (
                            _infer_expr_ch_type(l, ctx) or ""
                        ).startswith("Tuple(")

                    if (
                        len(lhs_parts) > 1
                        and rhs_inner
                        and not rhs_inner[0].is_kw("SELECT")
                        and not all_tuples
                        and len(relems) == len(lhs_parts)
                        and all(
                            bool(
                                p
                                and p[0].text == "("
                                and _match_paren(p, 0) == len(p) - 1
                            )
                            == _lhs_is_tup(l)
                            for p, l in zip(relems, lhs_parts)
                        )
                    ):
                        wrapped = list(tokens[j + 1 : rclose + 1])
                        relems = [wrapped]
                        all_tuples = True
                    # tuple IN (SELECT ...): a single-column tuple
                    # subquery compares struct-to-struct (positional
                    # colN fields), a multi-column one uses Spark's
                    # row-constructor IN (00132 q4/q5)
                    if rhs_inner and rhs_inner[0].is_kw("SELECT"):
                        _n_items = 1
                        _d = 0
                        for tk in rhs_inner[1:]:
                            if tk.text in ("(", "["):
                                _d += 1
                            elif tk.text in (")", "]"):
                                _d -= 1
                            elif _d == 0 and tk.text == ",":
                                _n_items += 1
                            elif _d == 0 and tk.is_kw("FROM"):
                                break
                        lhs_sqls = [_rewrite(p, ctx) for p in lhs_parts]
                        form = (
                            "named_struct("
                            + ", ".join(
                                f"'col{k + 1}', {s}"
                                for k, s in enumerate(lhs_sqls)
                            )
                            + ")"
                            if _n_items == 1
                            else f"({', '.join(lhs_sqls)})"
                        )
                        return _postfix(form, tokens, close + 1, ctx)
                    # `(a, t) IN ((x1, t1), (x2, t2))` wrapped once more
                    # — a single rhs element whose component SHAPES
                    # mismatch the lhs (tuple where the lhs component
                    # is scalar) is the LIST itself (the Set matches
                    # element types against the lhs — 00132's nested
                    # `(number, tuple) IN (((1,(2,3)), (4,(5,6))))`)
                    def _is_tup_toks(ts: list[Token]) -> bool:
                        return bool(
                            ts
                            and ts[0].text == "("
                            and _match_paren(ts, 0) == len(ts) - 1
                        )

                    if len(relems) == 1 and all_tuples:
                        es0 = _split_top(relems[0][1:-1], ",")
                        if (
                            len(es0) == len(lhs_parts)
                            and all(_is_tup_toks(e) for e in es0)
                            and any(
                                not (
                                    _is_tup_toks(l)
                                    or (
                                        _infer_expr_ch_type(l, ctx) or ""
                                    ).startswith("Tuple(")
                                )
                                for l in lhs_parts
                            )
                        ):
                            relems = es0
                    if (
                        len(lhs_parts) > 1
                        and rhs_inner
                        and not rhs_inner[0].is_kw("SELECT")
                        and all_tuples
                    ):
                        lhs_sqls = [_rewrite(p, ctx) for p in lhs_parts]
                        ors: list[str] | None = []
                        for p in relems:
                            es = _split_top(p[1:-1], ",")
                            if any(
                                tk.is_kw("NULL") for e in es for tk in e
                            ):
                                continue
                            if len(es) != len(lhs_sqls):
                                ors = None
                                break
                            ands = " AND ".join(
                                f"(({l}) = ({_rewrite(e, ctx)}))"
                                for l, e in zip(lhs_sqls, es)
                            )
                            ors.append(f"({ands})")
                        if ors is not None:
                            # NULL elements in the probe tuple make a
                            # term NULL — the reference's Set probe
                            # yields 0 there (only SCALAR NULL probes
                            # return NULL), so coalesce to false
                            expr = (
                                "ifnull("
                                + (" OR ".join(ors) if ors else "FALSE")
                                + ", false)"
                            )
                            if neg:
                                expr = f"(NOT {expr})"
                            return _postfix(expr, tokens, rclose + 1, ctx)
            if in_list or lhs_of_in:
                if in_list:
                    # NULL literals (and tuples containing one) never
                    # match in the reference's Set — drop them so
                    # Spark's three-valued IN can't turn a no-match
                    # into NULL
                    kept = [
                        p for p in parts_toks
                        if not any(tk.is_kw("NULL") for tk in p)
                    ]
                    if kept:
                        parts_toks = kept
                parts = [_rw_row_elem(p, ctx) for p in parts_toks]
                return _postfix(f"({', '.join(parts)})", tokens, close + 1, ctx)
            parts = [_rewrite(p, ctx) for p in parts_toks]
            ns = ", ".join(
                f"'col{k + 1}', {p}" for k, p in enumerate(parts)
            )
            return _postfix(f"named_struct({ns})", tokens, close + 1, ctx)
        parts = [_rewrite(p, ctx) for p in parts_toks]
        return _postfix(
            f"({', '.join(parts)})", tokens, close + 1, ctx,
            base_toks=tokens[i : close + 1],
        )

    # array literal
    if t.text == "[":
        close = _match_paren(tokens, i)
        parts = [_rewrite(p, ctx) for p in _split_top(tokens[i + 1 : close], ",")]
        return _postfix(
            f"array({', '.join(parts)})", tokens, close + 1, ctx,
            base_toks=tokens[i : close + 1],
        )

    # identifier: maybe function call / parametric call
    if t.kind == "ident" and i + 1 < len(tokens) and tokens[i + 1].text == "(":
        if t.is_kw("IN", "EXISTS"):
            # operator keyword directly before '(' — not a call; fall
            # through so the paren branch translates an inner SELECT
            return t.text.upper(), i + 1
        name = t.text
        close = _match_paren(tokens, i + 1)
        arg_items = _split_top(tokens[i + 2 : close], ",")
        # Higher-order calls: bind lambda formal parameters to the
        # element CH types of the array arguments while rewriting, so
        # translate-time type dispatch (toString of floats, length on
        # arrays) works inside lambda bodies too
        lam_saved = None
        if arg_items and any(tk.text == "->" for tk in arg_items[0]):
            lam_saved = dict(ctx.lambda_types)
            body = arg_items[0]
            # `(x) -> …` single-formal parens: CH accepts them, Spark's
            # lambda parser only takes `x ->` or `(a, b) ->` (golden
            # 00005) — strip the parens around one formal
            if (
                len(body) >= 4
                and body[0].text == "("
                and body[1].kind == "ident"
                and body[2].text == ")"
                and body[3].text == "->"
            ):
                body = body[1:2] + body[3:]
                arg_items[0] = body
            arrow = next(
                (j for j, tk in enumerate(body) if tk.text == "->"), None
            )
            if arrow is not None:
                params = [
                    p.text for p in body[:arrow]
                    if p.kind in ("ident", "qident")
                ]
                for p, arr in zip(params, arg_items[1:]):
                    at = _infer_expr_ch_type(arr, ctx) or ""
                    if at.startswith("Array(") and at.endswith(")"):
                        ctx.lambda_types[p] = at[len("Array(") : -1]
        try:
            args = [_rewrite(p, ctx) for p in arg_items]
        finally:
            if lam_saved is not None:
                ctx.lambda_types = lam_saved
        nxt = close + 1
        # parametric: f(params)(args)
        if nxt < len(tokens) and tokens[nxt].text == "(" and name in PARAMETRIC:
            close2 = _match_paren(tokens, nxt)
            args2 = [_rewrite(p, ctx) for p in _split_top(tokens[nxt + 1 : close2], ",")]
            return _postfix(PARAMETRIC[name](args, args2), tokens, close2 + 1, ctx)
        out = _apply_fn(name, args, tokens, i, ctx, arg_items)
        return _postfix(out, tokens, nxt, ctx, base_toks=tokens[i:nxt])

    if t.kind == "raw":
        # alias-substituted fragment: re-render the ORIGINAL CH tokens
        # in the current context — the pre-rendered string was built
        # before FROM resolution, so type-dispatched forms (length on
        # arrays, float toString) would otherwise miss their types
        nm = getattr(t, "ch_name", None)
        if nm and getattr(t, "reexpand", False) and nm in ctx.alias_ch_toks:
            expanded = _expand_alias_toks(ctx.alias_ch_toks[nm], ctx)
            try:
                return _postfix(
                    f"({_rewrite(expanded, ctx)})", tokens, i + 1, ctx,
                    base_toks=expanded,
                )
            except Exception:
                pass  # fall back to the pre-rendered form
        # the substituted alias's original tokens still type the base
        # for postfix indexing (arrayElement default fill)
        src = ctx.alias_ch_toks.get(nm) if nm else None
        return _postfix(t.text, tokens, i + 1, ctx, base_toks=src)

    # _part_index virtual column: ordinal of the row's data part —
    # derived from the _part name's min block number
    # (MergeTreeBlockInputStream virtual columns; parts read in block
    # order — golden 00327 sorts by it)
    if t.kind == "ident" and t.text == "_part_index":
        # part names are mindate_maxdate_minblock_maxblock_level —
        # the min block number is the scan ordinal
        return _postfix(
            "CAST(element_at(split(_part, '_'), 3) AS BIGINT)",
            tokens, i + 1, ctx,
        )
    # float special literals (ParserNumber: inf/nan parse via strtod)
    if t.kind == "ident" and t.text.lower() in ("inf", "infinity"):
        return _postfix("CAST('Infinity' AS DOUBLE)", tokens, i + 1, ctx)
    if t.kind == "ident" and t.text.lower() == "nan":
        return _postfix("CAST('NaN' AS DOUBLE)", tokens, i + 1, ctx)

    if t.kind == "number" and ("." in t.text or "e" in t.text.lower()):
        # the reference types float literals as Float64
        # (ParserNumber/FieldToDataType); Spark would parse them as
        # exact DECIMALs and diverge in arithmetic and formatting
        # (0.1 + 0.2, count()/0.1, quantile levels)
        # a leading-dot token reaching PRIMARY position is the float
        # literal `.0` (tuple access `t.1` is consumed by _postfix off
        # its base and never starts an item)
        txt = "0" + t.text if t.text.startswith(".") else t.text
        return _postfix(f"CAST({txt} AS DOUBLE)", tokens, i + 1, ctx)

    return _postfix(t.text, tokens, i + 1, ctx, base_toks=[t])


def _bare_col_is_array(item: list[Token], ctx: Ctx) -> bool:
    """Bare column reference whose analyzed FROM-schema type is an
    array — the CH-type inference can't see subquery output columns,
    but Spark's analyzer can (lazy probe, analysis only)."""
    if (
        len(item) != 1
        or item[0].kind not in ("ident", "qident")
        or ctx.schema_of_sql is None
        or ctx.current_from_sql is None
    ):
        return False
    col = item[0].text.strip("`")
    try:
        schema = ctx.schema_of_sql(ctx.current_from_sql) or []
    except Exception:
        return False
    return any(c == col and t.startswith("array") for c, t in schema)


_EXACT_HASH_FNS = {
    "cityHash64", "farmHash64", "metroHash64", "sipHash64", "intHash64",
    "intHash32", "halfMD5", "URLHash",
}

# string-element UDF per NeighbourhoodHash impl (same IntHash64 +
# Hash128to64 combine for all three — they differ only in Hash64)
_NEIGHBOURHOOD_STR_UDF = {
    "cityHash64": "ch_city64",
    "farmHash64": "ch_farm64",
    "metroHash64": "ch_metro64",
}


def _hash_flatten(item: list[Token], ctx: Ctx) -> list[list[Token]]:
    """Flatten tuple literals / tuple() calls / materialize() wrappers
    into scalar hash elements — FunctionNeighbourhoodHash64::
    executeForArgument recurses into ColumnTuple elements, which is why
    cityHash64(1, (2, '')) == cityHash64(1, 2, '')."""
    toks = list(item)
    while (
        len(toks) >= 4
        and toks[0].kind == "ident"
        and toks[0].text in ("materialize", "tuple")
        and toks[1].text == "("
        and _match_paren(toks, 1) == len(toks) - 1
    ):
        if toks[0].text == "tuple":
            parts = _split_top(toks[2:-1], ",")
            out: list[list[Token]] = []
            for p in parts:
                out.extend(_hash_flatten(p, ctx))
            return out
        toks = toks[2:-1]
    if toks and toks[0].text == "(" and _match_paren(toks, 0) == len(toks) - 1:
        parts = _split_top(toks[1:-1], ",")
        if len(parts) > 1:
            out = []
            for p in parts:
                out.extend(_hash_flatten(p, ctx))
            return out
    return [toks]


def _hash_fn(
    name: str, args: list[str], arg_items: list[list[Token]] | None, ctx: Ctx
) -> str | None:
    """Bit-exact dispatch of the fast-hash family (FunctionsHashing.h)
    — see dialect/hash_sql.py.  None → caller falls back to the
    documented xxhash64 stand-in."""
    from . import hash_sql as H

    if name == "halfMD5":
        # big-endian first 8 md5 bytes as UInt64 (HalfMD5Impl:54) —
        # pure SQL, exact
        if len(args) == 1:
            return (
                f"CAST(conv(substr(md5(CAST({args[0]} AS BINARY)), 1, 16), 16, 10) "
                f"AS DECIMAL(20, 0))"
            )
        return None
    if name == "sipHash64":
        # String-only in the reference (FunctionStringHash64:879)
        if len(args) == 1:
            return H.signed_to_u64(f"ch_sip64({args[0]})")
        return None
    if name in ("intHash64", "intHash32"):
        if len(args) != 1 or arg_items is None:
            return None
        t = _infer_expr_ch_type(arg_items[0], ctx) or "Int64"
        x = H.element_to_int_sql(args[0], t)
        if x is None:
            return None
        if name == "intHash32":
            return H.sql_int_hash32(x)
        return H.signed_to_u64(H.sql_int_hash64(x))
    if name == "URLHash":
        # the string-returning UDF keeps the call site to a SINGLE
        # occurrence: signed_to_u64's CASE would duplicate a huge
        # argument expression (URLHierarchy element) past the codegen
        # method limit, and a let-binding would put the UDF under a
        # higher-order lambda, which ExtractPythonUDFs refuses
        # (golden 00149)
        if len(args) == 1:
            # URLHash(URLHierarchy(u)[k]) == URLHash(u, k - 1)
            # (URLHashImpl applies the same find-level walk) — rewrite
            # so the UDF argument carries no higher-order lambdas,
            # which ExtractPythonUDFs refuses to pull out
            it = arg_items[0] if arg_items else None
            if (
                it
                and it[0].kind == "ident"
                and it[0].text == "URLHierarchy"
                and len(it) > 1
                and it[1].text == "("
            ):
                close = _match_paren(it, 1)
                if (
                    close + 1 < len(it)
                    and it[close + 1].text == "["
                    and it[-1].text == "]"
                ):
                    u_sql = _rewrite(it[2:close], ctx)
                    k_sql = _rewrite(it[close + 2 : -1], ctx)
                    return (
                        f"CAST(ch_urlhash_u64({u_sql}, "
                        f"CAST(({k_sql}) - 1 AS INT)) AS DECIMAL(20, 0))"
                    )
            return (
                f"CAST(ch_urlhash_u64({args[0]}, -1) AS DECIMAL(20, 0))"
            )
        if len(args) == 2:
            return (
                f"CAST(ch_urlhash_u64({args[0]}, CAST({args[1]} AS INT)) "
                f"AS DECIMAL(20, 0))"
            )
        return None
    # cityHash64/farmHash64/metroHash64: multi-arg NeighbourhoodHash
    # combine (FunctionNeighbourhoodHash64:378)
    if arg_items is None or name not in _NEIGHBOURHOOD_STR_UDF:
        return None
    str_udf = _NEIGHBOURHOOD_STR_UDF[name]
    expanded: list[list[Token]] = []
    for item in arg_items:
        if len(item) == 1 and item[0].text == "*":
            # f(*) expands to the visible FROM columns in order
            # (ExpressionAnalyzer asterisk normalization)
            names: list[str] | None = None
            if ctx.tabledef_of is not None and ctx.current_table:
                td = ctx.tabledef_of(ctx.current_table)
                if td is not None:
                    names = [
                        c.name
                        for c in td.columns
                        if c.default_kind not in ("MATERIALIZED", "ALIAS")
                    ]
            if (
                names is None
                and ctx.schema_of_sql is not None
                and ctx.current_from_sql is not None
            ):
                try:
                    sch = ctx.schema_of_sql(ctx.current_from_sql) or []
                    names = [c for c, _ in sch]
                except Exception:
                    names = None
            if not names:
                return None
            expanded.extend([Token("ident", n)] for n in names)
        else:
            expanded.append(item)
    elems: list[list[Token]] = []
    for item in expanded:
        elems.extend(_hash_flatten(item, ctx))
    acc: str | None = None
    for toks in elems:
        sql = _rewrite(toks, ctx)
        t = _infer_expr_ch_type(toks, ctx)
        if t is None and _syntactic_kind(toks) == "array":
            t = "Array(Int64)"
        if t is None:
            return None
        base = t[9:-1] if t.startswith("Nullable(") else t
        if base.startswith("Array("):
            acc2 = H.array_fold_sql(sql, base[6:-1], acc, str_udf + "_arr")
        else:
            h = H.scalar_hash_sql(sql, base, str_udf)
            acc2 = h if acc is None else (H.sql_h128(acc, h) if h else None)
        if acc2 is None:
            return None
        acc = acc2
    if acc is None:
        return None
    return H.signed_to_u64(acc)


_CH_LE_WIDTH = {
    "UInt8": 1, "Int8": 1, "Enum8": 1,
    "UInt16": 2, "Int16": 2, "Date": 2, "Enum16": 2,
    "UInt32": 4, "Int32": 4, "DateTime": 4,
    "UInt64": 8, "Int64": 8,
}


def _uniq_key_sql(arg_items: list[list[Token]], ctx: Ctx) -> tuple[str, bool] | None:
    """Per-row key for the uniq* family (UniqVariadicHash.h): a single
    argument inserts its 64-bit value (ints/date bit patterns, float
    bits, CityHash64 for strings); several arguments (or one tuple)
    chain h = Hash128to64(CityHash64(LE bytes of arg_i), h) starting
    from CityHash64 of the first argument's bytes.  Returns
    (key_sql BIGINT, is_variadic) or None when a type can't be
    resolved."""
    from . import hash_sql as H

    elems: list[list[Token]] = []
    for item in arg_items:
        elems.extend(_hash_flatten(item, ctx))

    def base_type(toks: list[Token]) -> str | None:
        t = _infer_expr_ch_type(toks, ctx)
        if t is None:
            return None
        return t[9:-1] if t.startswith("Nullable(") else t

    if len(elems) == 1:
        toks = elems[0]
        sql = _rewrite(toks, ctx)
        t = base_type(toks)
        if t is None:
            return None
        as_int = H.element_to_int_sql(sql, t)
        if as_int is not None:
            return as_int, False
        if t == "String" or t.startswith("FixedString"):
            return f"ch_city64({sql})", False
        if t == "Float64":
            return f"ch_f64_bits({sql})", False
        if t == "Float32":
            return f"ch_f32_bits({sql})", False
        return None

    # variadic: the whole chain runs in ONE Arrow UDF (Python UDFs are
    # barred from higher-order-function lambdas, so the in-SQL
    # Hash128to64 template can't wrap per-arg UDF hashes)
    val_parts: list[str] = []
    width_parts: list[str] = []
    for toks in elems:
        sql = _rewrite(toks, ctx)
        t = base_type(toks)
        if t is None:
            return None
        if t == "String" or t.startswith("FixedString"):
            val_parts.append(f"CAST({sql} AS STRING)")
            width_parts.append("-1")
        elif t == "Float32":
            val_parts.append(f"CAST(ch_f32_bits({sql}) AS STRING)")
            width_parts.append("4")
        elif t == "Float64":
            val_parts.append(f"CAST(ch_f64_bits({sql}) AS STRING)")
            width_parts.append("8")
        else:
            w = _CH_LE_WIDTH.get(t.split("(")[0])
            if w is None:
                return None
            as_int = H.element_to_int_sql(sql, t)
            if as_int is None:
                return None
            val_parts.append(f"CAST({as_int} AS STRING)")
            width_parts.append(str(w))
    return (
        f"ch_uniq_key(array({', '.join(val_parts)}), "
        f"array({', '.join(width_parts)}))",
        True,
    )


def _uniq_fn(
    name: str, arg_items: list[list[Token]], ctx: Ctx
) -> str | None:
    """uniq / uniqHLL12 / uniqCombined with the reference's exact
    count semantics at golden scales:

    - uniq: UniquesHashSet of low-32 bits of intHash64(key)
      (DefaultHash64; the variadic form inserts the key's low 32 bits
      directly — TrivialHash).  Exact below the 65536-element thinning
      threshold, emulated as COUNT(DISTINCT hash32).
    - uniqCombined: small/medium tiers store keys exactly (up to
      2^14); COUNT(DISTINCT key).  The 2^17-bucket HLL + bias-table
      tier beyond that is not emulated.
    - uniqHLL12: exact emulation incl. the 16-element small set and
      the 4096-bucket HLL (ch_uniq_hll12 UDF, dialect/reservoir.py).
    """
    from . import hash_sql as H

    got = _uniq_key_sql(arg_items, ctx)
    if got is None:
        return None
    key, variadic = got
    if name == "uniqHLL12":
        return (
            f"ch_uniq_hll12(collect_list({key}), "
            + ("true" if variadic else "false")
            + ")"
        )
    if name.startswith("uniqCombined"):
        # CombinedCardinalityEstimator small(16)/medium(2^14 exact)
        # tiers plus the 2^17-bucket HLL++ large tier with the
        # reference's bias tables (reservoir.uniq_combined_count).
        # Key per AggregateFunctionUniqCombinedTraits: numeric/float →
        # u32(intHash64(bits)); String → CityHash64 (u64 key);
        # variadic → low-32 of UniqVariadicHash.  The Raw/
        # LinearCounting/BiasCorrected dev variants share the tiers
        # and fork only the final estimate (HyperLogLogCounter.h
        # fixRawEstimate) — encoded as a mode suffix on the kind.
        if variadic:
            kind = "var"
        elif key.startswith("ch_city64"):
            kind = "str"
        else:
            kind = "num"
        mode = {"uniqCombined": "", "uniqCombinedRaw": ":raw",
                "uniqCombinedLinearCounting": ":lc",
                "uniqCombinedBiasCorrected": ":bias"}[name]
        return f"ch_uniq_combined(collect_list({key}), '{kind}{mode}')"
    # uniq
    if variadic:
        h32 = f"(({key}) & 4294967295)"
    elif "ch_" in key:
        # UDF-produced key (string/float path): the lambda-based murmur
        # template can't contain a Python UDF — hash in the UDF layer
        h32 = f"ch_hash32({key})"
    else:
        fin = H.sql_murmur_fin(key)
        h32 = f"(({fin}) & 4294967295)"
    return f"count(DISTINCT {h32})"


def _apply_fn(
    name: str,
    args: list[str],
    tokens: list[Token],
    i: int,
    ctx: Ctx,
    arg_items: list[list[Token]] | None = None,
) -> str:
    if name in _EXACT_HASH_FNS:
        out = _hash_fn(name, args, arg_items, ctx)
        if out is not None:
            return out
    # scan-ordered accumulator: collect (ordinal, value) and sort, so
    # the array follows the reference's single-threaded append order
    # (AggregateFunctionGroupArray.h insert per block — golden 00089).
    # groupArray materializes the group either way, so the ordinal
    # struct only adds a constant factor; groupUniqArray is NOT routed
    # here — its memory is bounded by DISTINCT values (collect_set
    # shape) and the reference emits hash-set order anyway.
    if (
        name == "groupArray"
        and ctx.group_array_ord is not None
        and len(args) == 1
    ):
        return (
            f"transform(array_sort(collect_list(named_struct("
            f"'o', {ctx.group_array_ord}, 'v', {args[0]}))), "
            f"__gae -> __gae.v)"
        )
    # dictionary functions (FunctionsExternalDictionaries.cpp) —
    # correlated scalar subquery → Catalyst plans a (broadcast) left join
    if name.startswith("dictGet") or name in ("dictHas", "dictIsIn"):
        out = _dict_fn(name, args, ctx)
        if out is not None:
            return out
    # length/empty/notEmpty are array+string polymorphic in the
    # reference (FunctionsArray.cpp / FunctionsString.cpp); Spark splits
    # them into size() and length().  Dispatch on the syntactic kind of
    # the argument — string-typed columns keep the string form.
    if (
        name in ("length", "empty", "notEmpty")
        and arg_items
        and (
            _syntactic_kind(arg_items[0]) == "array"
            or (_infer_expr_ch_type(arg_items[0], ctx) or "").startswith("Array")
            or _bare_col_is_array(arg_items[0], ctx)
        )
    ):
        if name == "length":
            return f"size({args[0]})"
        if name == "empty":
            return f"(size({args[0]}) = 0)"
        return f"(size({args[0]}) > 0)"
    # bit-exact uniq family (AggregateFunctionUniq.h): per-row keys
    # hash per UniqVariadicHash.h, counted per each estimator's exact
    # semantics — see _uniq_fn
    if name in ("uniq", "uniqHLL12", "uniqCombined", "uniqCombinedRaw",
                "uniqCombinedLinearCounting",
                "uniqCombinedBiasCorrected") and arg_items:
        out = _uniq_fn(name, arg_items, ctx)
        if out is not None:
            return out
    # sum over UInt64 wraps mod 2^64 (AggregateFunctionSum keeps the
    # argument type with overflow; golden 00282 sums cityHash64 values)
    # — Java BIGINT addition wraps identically on the bit patterns
    if name == "sum" and arg_items and len(args) == 1:
        at0 = _infer_expr_ch_type(arg_items[0], ctx) or ""
        if at0.startswith("Nullable("):
            at0 = at0[9:-1]
        if at0 == "UInt64":
            from . import hash_sql as H

            return H.signed_to_u64(f"sum({H.u64_to_signed(args[0])})")
    # toUInt64 of a Float argument: x86-64 double→uint64 conversion
    # semantics (ConvertImpl static_cast + gcc's unsigned-convert
    # codegen): values in [2^63, 2^64) convert exactly, >= 2^64 (and
    # NaN) wrap to 0, negatives truncate then wrap mod 2^64 — Spark's
    # DOUBLE→BIGINT cast saturates at Int64 max instead (golden 00232)
    if name == "toUInt64" and arg_items and len(args) == 1:
        at0 = _infer_expr_ch_type(arg_items[0], ctx) or ""
        if at0.startswith("Nullable("):
            at0 = at0[9:-1]
        if at0.startswith("Float"):
            from . import hash_sql as H

            x = f"CAST({args[0]} AS DOUBLE)"
            signed = H.signed_to_u64(f"CAST({x} AS BIGINT)")
            return (
                f"CAST(CASE WHEN isnan({x}) THEN 0 "
                f"WHEN {x} >= 1.8446744073709552E19d THEN 0 "
                # [2^63, 2^64): x - 2^63 is exact and fits BIGINT;
                # a direct DOUBLE→DECIMAL cast would round-trip through
                # the shortest string repr and lose the low digits
                f"WHEN {x} >= 9.223372036854776E18d THEN "
                f"CAST(CAST(({x} - 9.223372036854776E18d) AS BIGINT) AS DECIMAL(20, 0)) "
                f"+ CAST(9223372036854775808 AS DECIMAL(20, 0)) "
                f"ELSE {signed} END AS DECIMAL(20, 0))"
            )
    # toInt*/toUInt8..32 of a UInt64-typed argument: wraparound through
    # the Int64 bit pattern (ConvertImpl static_cast chains) — Spark's
    # DECIMAL(20,0)→integer casts NULL out on overflow instead
    if (
        name in ("toInt8", "toInt16", "toInt32", "toInt64")
        and arg_items
        and len(args) == 1
    ):
        at0 = _infer_expr_ch_type(arg_items[0], ctx) or ""
        if at0.startswith("Nullable("):
            at0 = at0[9:-1]
        if at0 == "UInt64":
            from . import hash_sql as H

            signed = H.u64_to_signed(args[0])
            tgt = {"toInt8": "TINYINT", "toInt16": "SMALLINT",
                   "toInt32": "INT", "toInt64": "BIGINT"}[name]
            return f"CAST({signed} AS {tgt})" if tgt != "BIGINT" else signed
    # integer-typed round/ceil/floor with a scale
    # (FunctionsRound.h IntegerRoundingComputation): scale >= 0 is
    # identity; scale < 0 works on the magnitude with divisor 10^|s| —
    # round adds the divisor at rem*2 >= d, ceil ALWAYS adds it
    # (even at rem == 0: ceil(0, -2) = 100, faithful to the
    # reference), floor truncates toward zero
    if (
        name in ("round", "ceil", "ceiling", "floor", "truncate", "trunc")
        and arg_items
        and len(args) >= 1
    ):
        at = _infer_expr_ch_type(arg_items[0], ctx) or ""
        if at.startswith("Nullable("):
            at = at[9:-1]
        if (
            at.startswith(("UInt", "Int", "Float"))
            or at.startswith("Enum")
        ):
            is_float_in = at.startswith("Float")
            # constant-fold the scale (ScaleForRightType needs its
            # VALUE and its TYPE: unsigned scale types are always
            # ZeroScale; float scales use is_signed and truncate)
            sc: float | None = None
            unsigned_scale = False
            if len(args) == 1:
                sc = 0.0
            elif len(arg_items) > 1:
                st = arg_items[1]
                if (
                    len(st) >= 4
                    and st[0].kind == "ident"
                    and re.fullmatch(
                        r"to(U?Int|Float)(8|16|32|64)", st[0].text
                    )
                    and st[1].text == "("
                ):
                    unsigned_scale = st[0].text.startswith("toUInt")
                    st = st[2:-1]
                txt = [t.text for t in st]
                if len(txt) == 1 and re.fullmatch(r"[\d.]+", txt[0]):
                    sc = float(txt[0])
                elif (
                    len(txt) == 2
                    and txt[0] == "-"
                    and re.fullmatch(r"[\d.]+", txt[1])
                ):
                    sc = -float(txt[1])
            if is_float_in and sc is not None and sc > 0:
                # PositiveScale on floats goes through the DOUBLE
                # multiply-round-divide pipeline (FunctionsRound.h
                # FloatRoundingComputation) — Spark's decimal-exact
                # bround(x, s) differs in the last ulp when the
                # product is inexact; values already integral at
                # double precision pass through.  Scale caps at the
                # type's digits10 (ScaleForRightType).
                cap = 6 if at.startswith("Float32") else 15
                d = float(10 ** min(int(sc), cap))
                x = args[0]
                fn_sql = {
                    "round": "bround", "ceil": "ceil", "ceiling": "ceil",
                    "floor": "floor", "truncate": "floor", "trunc": "floor",
                }[name]
                prod = f"(CAST({x} AS DOUBLE) * {d!r}d)"
                if fn_sql == "bround":
                    rounded = f"bround({prod})"
                else:
                    # Spark's ceil/floor return BIGINT — guard the
                    # beyond-2^53 range where doubles are integral
                    rounded = (
                        f"(CASE WHEN abs({prod}) >= 9.007199254740992e15d "
                        f"THEN {prod} "
                        f"ELSE CAST({fn_sql}({prod}) AS DOUBLE) END)"
                    )
                return f"({rounded} / {d!r}d)"
            if sc is not None and (not is_float_in or sc < 0):
                digits10 = {
                    "UInt8": 2, "UInt16": 4, "UInt32": 9, "UInt64": 19,
                    "Int8": 2, "Int16": 4, "Int32": 9, "Int64": 18,
                    "Enum8": 2, "Enum16": 4,
                    "Float32": 6, "Float64": 15,
                }.get(at.split("(")[0], 18)
                if not is_float_in and (unsigned_scale or sc >= 0):
                    return args[0]  # ZeroScale/PositiveScale: identity
                if sc < -digits10:
                    return "0"  # NullScale
                d = 10 ** int(-sc)
                x = args[0]
                if is_float_in:
                    # FloatRoundingComputation<NegativeScale>: work on
                    # the magnitude scaled by 1/d; magnitudes under
                    # one tenth of the divisor collapse to 0 (the
                    # cmpge-0.1 mask), then restore sign; +0.0
                    # normalizes -0
                    v = f"(abs({x}) / {d}.0d)"
                    fn_sql = {
                        "round": "bround", "ceil": "ceil",
                        "ceiling": "ceil", "floor": "floor",
                        "truncate": "floor", "trunc": "floor",
                    }[name]
                    return (
                        f"(IF(({x}) < 0, -1.0d, 1.0d) * "
                        f"IF({v} < 0.1d, 0.0d, {fn_sql}({v}) * {d}.0d) "
                        f"+ 0.0d)"
                    )
                sign = f"IF(({x}) < 0, -1, 1)"
                a_ = f"abs({x})"
                rem = f"({a_} % {d})"
                b = f"({a_} - {rem})"
                if name == "round":
                    return (
                        f"({sign} * IF(2 * {rem} < {d}, {b}, {b} + {d}))"
                    )
                if name in ("ceil", "ceiling"):
                    # in - rem + divisor even at rem == 0
                    # (ceil(0, -2) = 100, faithful)
                    return f"({sign} * ({b} + {d}))"
                return f"({sign} * {b})"

    # PK-pruned MergeTree read: blockSize() is the granule size (see
    # _translate_select_inner's gate, golden 00160)
    if ctx.block_granule is not None and name == "blockSize":
        return str(ctx.block_granule)
    # block-model functions over the annotated source (see
    # _translate_select_inner's wrapper)
    if ctx.block_fns_b is not None:
        b = ctx.block_fns_b
        if name == "blockSize":
            return "__bsz"
        if name == "rowNumberInAllBlocks":
            return "__rnall"
        if ctx.block_starts_sql is not None:
            # stored-block boundaries (recorded INSERT structure)
            _st = ctx.block_starts_sql
            _ix = f"size(filter({_st}, __bst -> __bst <= __rnall))"
            if name == "rowNumberInBlock":
                return (
                    f"(__rnall - element_at({_st}, CAST({_ix} AS INT)))"
                )
            if name == "blockNumber":
                return f"CAST({_ix} - 1 AS BIGINT)"
        if name == "rowNumberInBlock":
            return f"(__rnall % {b})"
        if name == "blockNumber":
            return f"CAST(floor(__rnall / {b}) AS BIGINT)"
    # comparison results are UInt8 in the reference; as NUMERIC
    # function arguments they need an INT cast (Spark BOOLEAN)
    if name in (
        "exp", "exp2", "exp10", "log", "ln", "log2", "log10", "sqrt",
        "cbrt", "abs", "negate", "sin", "cos", "tan", "asin", "acos",
        "atan", "erf", "erfc", "lgamma", "tgamma", "intExp2",
        "intExp10", "roundToExp2", "bitNot",
    ) and arg_items and len(args) == 1:
        _t0 = _infer_expr_ch_type(arg_items[0], ctx)
        if _t0 in ("UInt8", "Nullable(UInt8)") and any(
            t.text in ("=", "==", "!=", "<>", "<", ">", "<=", ">=")
            or t.is_kw("IN", "LIKE", "NOT", "AND", "OR")
            for t in arg_items[0]
        ):
            args = [f"CAST(({args[0]}) AS INT)"]
    # numeric conversion of an Enum yields its VALUE
    # (FunctionsConversion.cpp ConvertImpl<DataTypeEnum, T> — the
    # engine stores enums by NAME, so map name → declared value)
    if (
        arg_items
        and len(args) == 1
        and re.fullmatch(r"to(U?Int|Float)(8|16|32|64)", name)
    ):
        at = _infer_expr_ch_type(arg_items[0], ctx) or ""
        if at.startswith("Nullable("):
            at = at[9:-1]
        if at.startswith("Enum"):
            ev = _enum_value_sql(args[0], at)
            if ev is not None:
                return ev
    # emptyArrayToSingle: [] → [default] with the INFERRED element
    # default (typed tuples/Nullables included) when available
    if name == "emptyArrayToSingle" and arg_items and len(args) == 1:
        at = _infer_expr_ch_type(arg_items[0], ctx) or ""
        if at.startswith("Nullable("):
            at = at[9:-1]
        if at.startswith("Array("):
            d = _elem_default_sql(at[6:-1], args[0])
            if d is not None:
                return (
                    f"if(size({args[0]}) = 0, array({d}), {args[0]})"
                )
    # arrayFirst with no match yields the element TYPE DEFAULT
    # (FunctionsHigherOrder.h ArrayFirstImpl pushes default), not NULL
    if name == "arrayFirst" and arg_items and len(args) == 2:
        at = _infer_expr_ch_type(arg_items[1], ctx) or ""
        if at.startswith("Nullable("):
            at = at[9:-1]
        if at.startswith("Array("):
            arr_sql = args[1]
            d = _elem_default_sql(at[6:-1], arr_sql)
            if d is not None:
                from .functions_map import TEMPLATES as _T

                return f"coalesce({_T['arrayFirst'](args)}, {d})"
    if name == "has" and arg_items and len(args) == 2:
        at = _infer_expr_ch_type(arg_items[0], ctx) or ""
        _hcol = (
            arg_items[0][0].text.strip("`")
            if len(arg_items[0]) == 1
            and arg_items[0][0].kind in ("ident", "qident")
            else None
        )
        if (
            at.startswith(("Array(Nullable(String", "Array(Nullable(FixedString"))
            and _hcol is not None
            and ctx.has_prev_flags is not None
            and _hcol in ctx.has_prev_flags
        ):
            # preserved reference defect (golden 00395): the STORED
            # string path reads each element's null flag one slot
            # EARLY (ArrayElementStringImpl-style off-by-one in the
            # FunctionArrayIndex null map): element k>=2 takes element
            # k-1's flag, element 1 takes the PREVIOUS ROW's last flag
            # (own flag on the very first row); a hidden null element
            # exposes its stored EMPTY text to comparisons.
            arr, needle = args
            prev = (
                f"coalesce({ctx.has_prev_flags[_hcol]}, "
                f"element_at({arr}, 1) IS NULL)"
            )
            eff_null = (
                f"({prev} OR (size({arr}) >= 2 AND "
                f"exists(slice({arr}, 1, size({arr}) - 1), "
                f"__hn -> __hn IS NULL)))"
            )
            match = (
                f"((NOT {prev} AND coalesce(element_at({arr}, 1), '') "
                f"<=> ({needle})) OR (size({arr}) >= 2 AND "
                f"exists(sequence(2, greatest(size({arr}), 2)), "
                f"__hk -> __hk <= size({arr}) "
                f"AND element_at({arr}, __hk - 1) IS NOT NULL "
                f"AND coalesce(element_at({arr}, __hk), '') <=> ({needle}))))"
            )
            return (
                f"(CASE WHEN ({needle}) IS NULL THEN CAST({eff_null} AS INT) "
                f"ELSE CAST({match} AS INT) END)"
            )
    # arrayElement call form: same type-default out-of-bounds fill as
    # the [] subscript in _postfix (FunctionsArray.cpp arrayElement)
    if name == "arrayElement" and arg_items and len(args) == 2:
        arr, idx = args
        at = _infer_expr_ch_type(arg_items[0], ctx) or ""
        if at.startswith("Nullable("):
            at = at[9:-1]
        default = (
            _elem_default_sql(at[6:-1], arr) if at.startswith("Array(") else None
        )
        got = (
            f"get({arr}, (CASE WHEN ({idx}) > 0 THEN ({idx}) - 1 "
            f"ELSE size({arr}) + ({idx}) END))"
        )
        if (
            at.startswith("Array(Nullable(String")
            and arg_items[0][0].text != "["
            and not (
                len(arg_items[1]) == 1 and arg_items[1][0].kind == "number"
            )
        ):
            # preserved reference defect: the non-const-index STRING
            # path reads the result null flag one element EARLY
            # (ArrayElementStringImpl::vector, FunctionsArray.cpp:600 —
            # `current_offset + adjusted_index - 1`), so the value is
            # right but the nullity comes from the preceding element
            # (golden 00395's a/\N/\N/\N/\N block)
            _j = f"(CASE WHEN ({idx}) <= 1 THEN 1 ELSE ({idx}) - 1 END)"
            return (
                f"(CASE WHEN element_at({arr}, CAST({_j} AS INT)) IS NULL "
                f"THEN NULL ELSE {got} END)"
            )
        return f"coalesce({got}, {default})" if default is not None else got
    # FixedString(N) → String conversion cuts the zero padding
    # (FunctionsConversion.cpp ConvertImpl<DataTypeFixedString,
    # DataTypeString>: data_to is sized to the last non-zero byte)
    if name == "toString" and arg_items and len(args) == 1:
        it = arg_items[0]
        if (
            len(it) >= 3
            and it[0].kind == "ident"
            and it[0].text == "countState"
            and it[1].text == "("
        ):
            # binary state text: varint of the count (VarInt.h)
            return _count_state_text_sql(args[0])
        _t = _infer_expr_ch_type(arg_items[0], ctx) or ""
        if _t.startswith(("Tuple(", "Array(")):
            # composite → CH text form (serializeTextQuoted)
            out = _ch_text_sql(args[0], _t)
            if out is not None:
                return out
        if _t.startswith("FixedString"):
            return f"regexp_replace({args[0]}, concat(chr(0), '+$'), '')"
        # float → shortest text (IO/WriteHelpers writeFloatText):
        # integral doubles print without the '.0' Spark appends
        if _t in ("Float32", "Float64"):
            x = args[0]
            return (
                f"(CASE WHEN ({x}) = floor({x}) AND abs({x}) < 1e16 "
                f"THEN CAST(CAST({x} AS BIGINT) AS STRING) "
                f"ELSE CAST({x} AS STRING) END)"
            )
    # UInt8-typed aggregate arguments: comparisons/logicals land as
    # Spark BOOLEAN, which sum/avg/min/max reject — the reference sums
    # UInt8 (AggregateFunctionSum over comparison results is pervasive
    # in the corpus).  CAST to INT is a no-op for real UInt8 columns.
    if (
        name in ("sum", "sumWithOverflow", "avg", "min", "max", "any", "anyLast")
        and arg_items
        and len(args) == 1
    ):
        _t = _infer_expr_ch_type(arg_items[0], ctx)
        if _t in ("UInt8", "Nullable(UInt8)"):
            args = [f"CAST(({args[0]}) AS INT)"]
    # intDivOrZero(a, b): the reference also yields 0 on the one
    # overflowing signed division min/-1 (FunctionsArithmetic.h
    # DivideIntegralOrZeroImpl)
    if name == "intDivOrZero" and arg_items and len(args) == 2:
        at = _infer_expr_ch_type(arg_items[0], ctx)
        mins = {"Int8": -128, "Int16": -32768, "Int32": -2147483648,
                "Int64": -9223372036854775808}
        if at in mins:
            args = [
                f"(CASE WHEN ({args[1]}) = -1 AND ({args[0]}) = {mins[at]} "
                f"THEN 0 ELSE ({args[0]}) END)",
                args[1],
            ]
    # emptyArrayToSingle over Date/DateTime arrays: the type default is
    # the zero date, unrepresentable in Spark's DATE — render through
    # formatted strings (prints identically in TSV/Pretty arrays)
    if name == "emptyArrayToSingle" and arg_items:
        _t = _infer_expr_ch_type(arg_items[0], ctx) or ""
        if _t in ("Array(Date)", "Array(DateTime)"):
            if _t == "Array(Date)":
                fmt, zero = "yyyy-MM-dd", "0000-00-00"
            else:
                fmt, zero = "yyyy-MM-dd HH:mm:ss", "0000-00-00 00:00:00"
            return (
                f"if(size({args[0]}) = 0, array('{zero}'), "
                f"transform({args[0]}, __d -> date_format(__d, '{fmt}')))"
            )
    # catalog introspection resolved at translate time
    # (FunctionsMiscellaneous.cpp hasColumnInTable is constant-folded
    # at analysis in the reference too)
    # finalizeAggregation over a stored AggregateFunction column:
    # dispatch on the CREATE TABLE type (DataTypeAggregateFunction;
    # identity for plain-value states, estimate for sketches)
    # finalizeAggregation over an inline sketch state (e.g.
    # uniqMergeState(...)): the sketch needs its estimator
    if (
        name == "finalizeAggregation"
        and args
        and ("hll_union_agg" in args[0] or "hll_sketch_agg" in args[0])
        and not args[0].startswith("hll_sketch_estimate")
    ):
        return f"hll_sketch_estimate({args[0]})"
    if name == "finalizeAggregation" and args and ctx.agg_fn_of is not None:
        return _finalize_state_sql(args[0], ctx)
    # runningAccumulate: merge the states cumulatively down the stream
    # (FunctionsMiscellaneous.cpp runningAccumulate) — a running window
    # over the hidden scan ordinal (the stream order of the FROM)
    if name == "runningAccumulate" and args:
        w = (
            "OVER (ORDER BY __sid0 "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        fn = ctx.state_fn_of.get(args[0].strip("`"))
        if fn is None and ctx.agg_fn_of is not None:
            fn = ctx.agg_fn_of(args[0].strip("`"), ctx.current_table)
        if fn == "groupUniqArray":
            # cumulative union, first-seen element order
            return (
                f"array_distinct(flatten(collect_list({args[0]}) {w}))"
            )
        if fn == "groupArray":
            return f"flatten(collect_list({args[0]}) {w})"
        if fn == "min":
            return f"min({_finalize_state_sql(args[0], ctx)}) {w}"
        if fn == "max":
            return f"max({_finalize_state_sql(args[0], ctx)}) {w}"
        fin = _finalize_state_sql(args[0], ctx)
        return f"sum({fin}) {w}"
    if name == "runningDifference" and args:
        # first row yields 0 (RunningDifferenceImpl)
        return (
            f"(({args[0]}) - lag({args[0]}, 1, {args[0]}) "
            f"OVER (ORDER BY __sid0))"
        )
    # toTypeName resolved at translate time when the CH type is
    # statically inferable (the reference computes it at analysis:
    # FunctionsMiscellaneous.cpp toTypeName returns a const column of
    # the argument's DataType name) — this is the only way to render
    # Nullable(T)/literal UInt8/Null faithfully, since Spark's runtime
    # typeof() carries neither nullability nor CH literal typing
    if name == "toTypeName" and arg_items:
        inferred = _infer_expr_ch_type(arg_items[0], ctx)
        if inferred is not None:
            return "'{}'".format(inferred.replace("'", "\\'"))
    if name == "hasColumnInTable" and len(args) >= 2:
        table = args[-2].strip("'")
        col = args[-1].strip("'")
        cands = [table]
        if len(args) >= 3:
            cands.insert(0, f"{args[-3].strip(chr(39))}.{table}")
        if ctx.default_db:
            cands.append(f"{ctx.default_db}.{table}")
        cands.append(f"default.{table}")
        cols = None
        if ctx.columns_of is not None:
            for cand in cands:
                cols = ctx.columns_of(cand)
                if cols is not None:
                    break
        return "1" if cols is not None and col in cols else "0"
    combo = if_combinator(name, args)
    if combo is not None:
        return combo
    combo = foreach_combinator(name, args)
    if combo is not None:
        return combo
    if name in TEMPLATES:
        return TEMPLATES[name](args)
    if name in SIMPLE:
        return f"{SIMPLE[name]}({', '.join(args)})"
    if name in PARAMETRIC:  # parametric used without params, e.g. quantile(x)
        return PARAMETRIC[name]([], args)
    if name.endswith("Array") and arg_items:
        _at = _infer_expr_ch_type(arg_items[0], ctx) or ""
        elem = _at[len("Array(") : -1] if _at.startswith("Array(") else None
        combo = array_combinator(name, args, elem)
        if combo is not None:
            return combo
    if name.endswith("ArrayIf") and arg_items and len(args) >= 2:
        # <agg>ArrayIf(arr, cond): rows failing cond contribute no
        # elements — collect_list skips the NULL stand-in
        # (combinator composition, AggregateFunctionFactory.cpp)
        _at = _infer_expr_ch_type(arg_items[0], ctx) or ""
        elem = _at[len("Array(") : -1] if _at.startswith("Array(") else None
        gated = f"IF(CAST({args[-1]} AS BOOLEAN), {args[0]}, NULL)"
        combo = array_combinator(name[: -len("If")], [gated], elem)
        if combo is not None:
            return combo
    return f"{name}({', '.join(args)})"


def _dict_fn(name: str, args: list[str], ctx: Ctx) -> str | None:
    if not args:
        return None
    dname = args[0].strip("'")
    spec = ctx.dictionaries.get(dname)
    if spec is None:
        raise ValueError(
            f"unknown dictionary {dname!r} in {name} — register it "
            f"with ChEngine.register_dictionary first "
            f"(FunctionsExternalDictionaries: getExternalDictionaries)"
        )
    if name == "dictHas":
        key = args[1]
        return f"(coalesce((SELECT max(1) FROM {spec.view} __d WHERE __d.__k = ({key})), 0) = 1)"
    if name in ("dictGetHierarchy", "dictIsIn"):
        if spec.hier is None:
            raise ValueError(
                f"dictionary {dname!r} has no hierarchical layout — "
                f"pass parent= to register_dictionary"
            )
        child = args[1]
        chain = (
            f"coalesce(element_at({spec.hier}, CAST({child} AS BIGINT)), "
            f"array(CAST({child} AS BIGINT)))"
        )
        if name == "dictGetHierarchy":
            return chain
        return f"array_contains({chain}, CAST({args[2]} AS BIGINT))"
    attr = args[1].strip("'")
    key = args[2]
    sub = f"(SELECT max(__d.{attr}) FROM {spec.view} __d WHERE __d.__k = ({key}))"
    if name.endswith("OrDefault") and len(args) > 3:
        return f"coalesce({sub}, {args[3]})"
    return sub


def _count_state_text_sql(n: str) -> str:
    """CH binary serialization of a count() aggregate state: varint of
    the UInt64 count (AggregateFunctionCount serialize → writeVarUInt,
    IO/VarInt.h).  Emitted as CAST(unhex(hextext) AS STRING) so the
    raw bytes survive Spark's UTF8String (which does not validate)."""
    nb = (
        f"(CASE WHEN ({n}) < 128 THEN 1 WHEN ({n}) < 16384 THEN 2 "
        f"WHEN ({n}) < 2097152 THEN 3 WHEN ({n}) < 268435456 THEN 4 "
        f"WHEN ({n}) < 34359738368 THEN 5 WHEN ({n}) < 4398046511104 "
        f"THEN 6 WHEN ({n}) < 562949953421312 THEN 7 "
        f"WHEN ({n}) < 72057594037927936 THEN 8 ELSE 9 END)"
    )
    byte = (
        f"(CAST(shiftrightunsigned(CAST({n} AS BIGINT), 7 * _vb) AS BIGINT)"
        f" % 128) + IF(_vb < {nb} - 1, 128, 0)"
    )
    return (
        f"CAST(unhex(array_join(transform(sequence(0, {nb} - 1), "
        f"_vb -> lpad(hex({byte}), 2, '0')), '')) AS STRING)"
    )


def _split_ch_type_args(t: str) -> list[str]:
    """Split 'A, B(C, D), E' at top-level commas."""
    out, depth, cur = [], 0, []
    for ch in t:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def _ch_text_sql(expr: str, ch_type: str) -> str | None:
    """SQL producing the CH text form of a composite value
    (DataTypeTuple/DataTypeArray serializeTextQuoted: no spaces,
    strings/dates quoted with backslash escaping) — what toString /
    CAST(x AS String) yields in the reference."""
    t = ch_type.strip()
    if t.startswith("Array(") and t.endswith(")"):
        inner = _ch_text_sql("_cte", t[6:-1])
        if inner is None:
            return None
        return (
            f"concat('[', array_join(transform({expr}, _cte -> {inner}), "
            f"','), ']')"
        )
    if t.startswith("Tuple(") and t.endswith(")"):
        parts = _split_ch_type_args(t[6:-1])
        elems = []
        for k, pt in enumerate(parts):
            sub = _ch_text_sql(f"({expr}).col{k + 1}", pt)
            if sub is None:
                return None
            elems.append(sub)
        joined = ", ".join(["'('"] + [", ',', ".join(elems)] + ["')'"])
        return f"concat({joined})"
    if t == "String" or t.startswith("FixedString"):
        # writeQuotedString: backslash-escape \\ and ' inside quotes
        return (
            f"concat('\\'', replace(replace({expr}, '\\\\', '\\\\\\\\'), "
            f"'\\'', '\\\\\\''), '\\'')"
        )
    if t in ("Date", "DateTime"):
        return f"concat('\\'', CAST({expr} AS STRING), '\\'')"
    if t.startswith(("UInt", "Int")) or t.startswith("Enum"):
        return f"CAST({expr} AS STRING)"
    if t.startswith("Float"):
        # integral floats drop the '.0' (writeFloatText)
        return (
            f"(CASE WHEN ({expr}) = floor({expr}) AND abs({expr}) < 1e16 "
            f"THEN CAST(CAST({expr} AS BIGINT) AS STRING) "
            f"ELSE CAST({expr} AS STRING) END)"
        )
    return None


def _elem_default_sql(elem_type: str, base_sql: str) -> str | None:
    """Out-of-bounds arrayElement default for the element CH type
    (FunctionsArray.cpp arrayElement fills the type default).  Nested
    arrays build their empty value from the base via flatten (no
    literal of unknown inner type needed)."""
    t = elem_type.strip()
    if t.startswith("Nullable("):
        # default of Nullable is NULL (ColumnNullable default)
        return "NULL"
    if t.startswith(("UInt", "Int", "Float")) or t.startswith("Enum"):
        return "0"
    if t == "String" or t.startswith("FixedString"):
        return "''"
    if t.startswith("Array("):
        if base_sql is not None:
            # empty value of the exact runtime type, no literal needed
            return f"slice(flatten({base_sql}), 1, 0)"
        st = _spark_type_text(t)
        return f"CAST(array() AS {st})" if st else None
    if t.startswith("Tuple(") and t.endswith(")"):
        parts = _split_ch_type_args(t[6:-1])
        # fields can't reuse the enclosing base (it is not an
        # array-of-arrays of the FIELD type) — build typed literals
        ds = [_elem_default_sql(p, None) for p in parts]
        if all(d is not None for d in ds):
            fields = ", ".join(
                f"'col{k + 1}', {d}" for k, d in enumerate(ds)
            )
            return f"named_struct({fields})"
    return None  # unknown: NULL stays the documented fallback


def _enum_value_sql(expr: str, ch_enum: str) -> str | None:
    """CASE mapping the stored enum NAME back to its declared VALUE
    (DataTypeEnum name<->value pairs)."""
    from .statements import _enum_pairs

    pairs = _enum_pairs(ch_enum)
    if not pairs:
        return None
    whens = " ".join(f"WHEN '{n}' THEN {v}" for n, v in pairs)
    return f"(CASE {expr} {whens} END)"


def _spark_type_text(t: str) -> str | None:
    """Spark DDL type text for a CH type (the simple subset)."""
    t = t.strip()
    if t.startswith("Nullable("):
        t = t[9:-1]
    mapped = _CH_TYPE_MAP.get(t.upper())
    if mapped:
        return mapped
    if t.startswith("Enum"):
        return "STRING"
    if t.startswith("FixedString"):
        return "STRING"
    if t.startswith("Array(") and t.endswith(")"):
        inner = _spark_type_text(t[6:-1])
        return f"ARRAY<{inner}>" if inner else None
    if t.startswith("Tuple(") and t.endswith(")"):
        parts = [_spark_type_text(p) for p in _split_ch_type_args(t[6:-1])]
        if all(p is not None for p in parts):
            fields = ", ".join(
                f"col{k + 1}: {p}" for k, p in enumerate(parts)
            )
            return f"STRUCT<{fields}>"
    return None


def _postfix(
    base: str,
    tokens: list[Token],
    i: int,
    ctx: Ctx,
    base_toks: list[Token] | None = None,
) -> tuple[str, int]:
    """Apply postfix operators: indexing x[i] → element_at (1-based,
    FunctionsArray.cpp arrayElement), member access passthrough."""
    while i < len(tokens):
        if tokens[i].text == "[":
            close = _match_paren(tokens, i)
            idx = _rewrite(tokens[i + 1 : close], ctx)
            # null-safe 1-based access, negative-from-end; index 0 and
            # out-of-range fill the element TYPE DEFAULT when the
            # element type is statically known (arrayElement semantics),
            # else NULL (documented fallback divergence)
            default = None
            if base_toks is not None:
                at = _infer_expr_ch_type(base_toks, ctx) or ""
                if at.startswith("Nullable("):
                    at = at[9:-1]
                if at.startswith("Array("):
                    default = _elem_default_sql(at[6:-1], base)
            got = (
                f"get({base}, (CASE WHEN ({idx}) > 0 THEN ({idx}) - 1 "
                f"ELSE size({base}) + ({idx}) END))"
            )
            base = f"coalesce({got}, {default})" if default is not None else got
            base_toks = None if base_toks is None else base_toks + tokens[i : close + 1]
            i = close + 1
        elif (
            tokens[i].text == "."
            and i + 1 < len(tokens)
            and tokens[i + 1].kind == "number"
            and i >= 1
            and (
                tokens[i - 1].kind in ("ident", "qident", "raw", "number")
                or tokens[i - 1].text in (")", "]")
            )
        ):
            # tuple element access t.1 → struct field col1 (tupleElement,
            # FunctionsMiscellaneous.cpp; struct fields auto-named colN)
            base = f"{base}.col{tokens[i + 1].text}"
            i += 2
        elif (
            tokens[i].kind == "number"
            and tokens[i].text.startswith(".")
            and tokens[i].text[1:].isdigit()
            and i >= 1
            and (
                tokens[i - 1].kind in ("ident", "qident", "raw", "number")
                or tokens[i - 1].text in (")", "]")
            )
        ):
            # ".1" lexes as one number token: same tuple access —
            # only off an operand base (after an operator it's the
            # float literal `-.0`, golden 00031)
            base = f"{base}.col{tokens[i].text[1:]}"
            i += 1
        else:
            break
    return base, i
