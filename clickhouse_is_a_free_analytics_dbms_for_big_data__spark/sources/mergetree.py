"""MergeTree-family table engines re-expressed as Spark write/compaction
policies.

Reference architecture (dbms/src/Storages/MergeTree/MergeTreeData.h:38-73):
a table is a set of sorted parts — inserts write sorted parts,
background merges combine them, and the *merge-time semantics* of each
engine variant (Summing/Replacing/Collapsing/Aggregating/Graphite) are
incremental aggregation/dedup policies.

Spark-first translation (SURVEY.md §2.1): the storage layout is
month-partitioned parquet with rows sorted by the primary key inside
each file — parquet row-group min/max stats then play the role of the
sparse primary index (primary.idx), and partition pruning plays the
role of the month-part selection.  Merge semantics become idempotent
*compaction jobs* (plain DataFrame transforms, runnable batch or as
foreachBatch in streaming), and FINAL becomes the same transform
applied at read time.

Scale notes: compactions are single-shuffle (one groupBy/window on the
PK).  At 100 TB run them per partition (the month column) so each job
shuffles one partition's worth, exactly like the reference's per-part
merges.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _lc_dict_path(path: str, col: str) -> str:
    # the leading underscore makes Spark's file index skip the dict
    # directory when scanning the main table
    return os.path.join(path, "__lc__", col)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — storage-
    agnostic (local, HDFS, object stores with configured connectors)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _list_lc_cols(spark: SparkSession, path: str) -> list[str]:
    """Names of dictionary-encoded columns of a MergeTree table: the
    subdirectories of ``path/__lc__``, listed through Hadoop's
    FileSystem so discovery works on any storage the session can read
    the table from (not just the driver's local FS)."""
    fs, hpath = _hadoop_fs(spark, os.path.join(path, "__lc__"))
    if not fs.exists(hpath):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(hpath)
        if st.isDirectory()
    )


def write_mergetree(
    df: DataFrame,
    path: str,
    date_col: str,
    order_by: Sequence[str],
    mode: str = "append",
    partition_granularity: str = "month",
    low_cardinality: Sequence[str] = (),
    parts_per_partition: int = 1,
) -> None:
    """MergeTree writer: partition by toYYYYMM(date), sort by PK within
    partitions (MergeTreeData.h:43-61 — month partitions + primary.idx).

    Sorted writes give parquet row-group min/max stats on the PK, so
    PK-range predicates skip row groups like the reference's
    markRangesFromPKRange (MergeTreeDataSelectExecutor.cpp:93).

    ``low_cardinality`` columns are DICTIONARY-ENCODED at write time —
    the descendant of the reference's LowCardinality idea
    (DataTypeString keys are the whole cost of a string GROUP BY:
    Columns/ColumnString.h): the stored column holds a dense int CODE
    and the (code, value) dictionary lives under ``path/__lc__/<col>``.
    Downstream GROUP BYs then hash/compare 4-byte ints and shuffle
    codes instead of strings, decoding via a broadcast join AFTER the
    aggregation (late materialization — see ``read_mergetree``'s
    ``decode_lc`` and ``lc_decode``).  Codes are assigned by value
    order, so equal inputs produce identical tables on every engine.

    ``mode="append"`` MERGES dictionaries — the analog of the
    reference's per-part dictionary unification on merge
    (MergeTreeData.h parts are self-describing; merged parts share one
    dict): values already in the table's dict keep their codes
    unchanged (no rewrite of stored data), genuinely-new values get
    codes after the current max, assigned in value order.  The merged
    (superset) dict lands BEFORE the appended rows so a reader never
    sees a code without a dict entry.
    """
    # spark handle for dict reads/FS checks (df is always attached)
    spark = df.sparkSession
    dicts: dict[str, DataFrame] = {}
    for col in low_cardinality:
        # NULL never joins the encode equality, so it encodes to a NULL
        # code and decodes back to NULL without a dict entry — keep it
        # out of the vocab (an append would otherwise add a fresh
        # NULL-value row per insert)
        vocab = (
            df.select(F.col(col).alias("__lc_value"))
            .filter(F.col("__lc_value").isNotNull())
            .distinct()
        )
        # vocab-sized global window: the dictionary is RAM-resident in
        # the reference too; a 100 TB corpus with a genuinely-low-
        # cardinality column keeps this tiny.  Materialize BEFORE the
        # main write touches ``path`` out from under the lineage.
        # Dict columns use reserved __lc_* names so a table that itself
        # has a `value`/`code` column survives the encode join.
        fs, tbl_path = _hadoop_fs(spark, path)
        dict_exists = fs.exists(
            spark._jvm.org.apache.hadoop.fs.Path(_lc_dict_path(path, col))
        )
        if mode == "append" and fs.exists(tbl_path) and not dict_exists:
            raise ValueError(
                f"append with low_cardinality={col!r}: table {path} "
                "exists but has no dictionary for that column (it was "
                "written unencoded) — appending codes onto stored "
                "strings would corrupt the column"
            )
        if mode == "append" and dict_exists:
            old = _read_lc_dict(spark, path, col)
            new_vals = vocab.join(
                old, on="__lc_value", how="left_anti"
            ).withColumn(
                "__lc_code",
                F.row_number().over(Window.orderBy("__lc_value")).cast("int")
                + F.lit(old.agg(F.max("__lc_code")).collect()[0][0] or 0),
            )
            dict_df = old.unionByName(new_vals).localCheckpoint(eager=True)
        else:
            dict_df = vocab.withColumn(
                "__lc_code",
                F.row_number().over(Window.orderBy("__lc_value")).cast("int"),
            ).localCheckpoint(eager=True)
        dicts[col] = dict_df
        order = df.columns
        df = (
            df.join(
                F.broadcast(dict_df), df[col] == dict_df["__lc_value"], "left"
            )
            .withColumn(col, F.col("__lc_code"))
            .drop("__lc_value", "__lc_code")
            .select(*order)
        )
    if mode == "append":
        # superset dict first: old rows still decode, and a failure
        # between the two writes never strands an undecodable code
        for col, dict_df in dicts.items():
            dict_df.write.mode("overwrite").parquet(_lc_dict_path(path, col))
    fmt = {"month": "yyyyMM", "day": "yyyyMMdd"}[partition_granularity]
    out = df.withColumn("_partition", F.date_format(F.col(date_col), fmt))
    # Overwrite with LC columns builds in a STAGING dir and publishes
    # with a rename swap: writing data straight to ``path`` (overwrite
    # clears it) and dictionaries after would leave a crash window
    # where the table reads back raw int codes with no dict — silently
    # wrong values.  With the swap, a crash leaves either the old
    # table intact or (in the instant between renames) no table at
    # all — a loud error, never codes.
    target = path
    publish = mode != "append" and bool(dicts)
    if publish:
        target = path.rstrip("/") + ".__lc_staging__"
    # ``parts_per_partition`` > 1 writes several PK-sorted files per
    # month — the analog of multiple parts within a MergeTree
    # partition.  One file per month serializes downstream scans when
    # the file fits a single parquet row group (measured r10: the
    # stored hits table at 1M rows scanned on ONE task); PK-hashed
    # parts restore scan parallelism while each file stays sorted for
    # row-group pruning.  repartitionByRange over the PK hash with an
    # EXPLICIT partition count: a column-hash repartition without a
    # count is AQE-coalescible (measured r11 at 10M rows: the 32
    # requested parts collapsed to 8 files with 4x size skew, and the
    # partial agg of every stored GROUP BY ran on 8 uneven tasks —
    # slower than the derived view it was built to beat), and hashing
    # a k-valued salt into k buckets loses ~1/e of the parts to
    # collisions; even hash RANGES give exactly N files per month.
    # The range sampling pass reads one hashed column — O(sample).
    if parts_per_partition > 1:
        out = out.repartitionByRange(
            parts_per_partition,
            F.xxhash64(*[F.col(c) for c in order_by]),
        )
    else:
        out = out.repartition(F.col("_partition"))
    try:
        (
            out.sortWithinPartitions(*order_by)
            .write.mode("overwrite" if publish else mode)
            .partitionBy("_partition")
            .parquet(target)
        )
        if publish:
            for col, dict_df in dicts.items():
                dict_df.write.mode("overwrite").parquet(
                    _lc_dict_path(target, col)
                )
            jP = spark._jvm.org.apache.hadoop.fs.Path
            fs, tbl_path = _hadoop_fs(spark, path)
            backup = jP(path.rstrip("/") + ".__lc_old__")
            fs.delete(backup, True)
            # Hadoop rename reports failure by RETURNING FALSE, not
            # raising — an unchecked swap could delete the backup
            # after a failed rename (old table destroyed) or rename
            # the staging dir INTO the still-existing table dir.
            # Check both; only a fully-successful swap may drop the
            # backup.
            if fs.exists(tbl_path) and not fs.rename(tbl_path, backup):
                raise IOError(
                    f"LC publish: could not move current table "
                    f"{path} aside; table left untouched"
                )
            if not fs.rename(jP(target), tbl_path):
                # restore the old table before failing loudly
                fs.rename(backup, tbl_path)
                raise IOError(
                    f"LC publish: could not move staging into place "
                    f"for {path}; previous table restored"
                )
            fs.delete(backup, True)
    except Exception:
        # never leak the fixed-name staging dir (a full table copy)
        # on a failed build or publish; the swap above guarantees the
        # previous table survives
        if publish:
            try:
                fs, _ = _hadoop_fs(spark, path)
                fs.delete(
                    spark._jvm.org.apache.hadoop.fs.Path(target), True
                )
            except Exception:  # pragma: no cover - best-effort
                pass
        raise
    # a write changed (or may have changed) this table's dictionaries:
    # drop any memoized collected maps so a same-session reader never
    # decodes new codes through a stale map (to NULL, silently)
    _evict_lc_cache(path)


def _read_lc_dict(spark: SparkSession, path: str, col: str) -> DataFrame:
    d = spark.read.parquet(_lc_dict_path(path, col))
    if "__lc_value" not in d.columns:
        # pre-r10 on-disk layout used bare value/code column names
        d = d.select(
            F.col("value").alias("__lc_value"),
            F.col("code").alias("__lc_code"),
        )
    return d.select("__lc_value", "__lc_code")


_LC_MAP_CACHE: dict[tuple[str, str], dict[int, str]] = {}


def _evict_lc_cache(path: str) -> None:
    """Drop every memoized LC dictionary map for ``path`` — called by
    writers (write_mergetree, optimize_table) so appends/overwrites in
    one session never decode through a stale map."""
    norm = path.rstrip("/")
    for key in [k for k in _LC_MAP_CACHE if k[0].rstrip("/") == norm]:
        del _LC_MAP_CACHE[key]


def lc_dict_map(
    spark: SparkSession, path: str, col: str, max_entries: int = 100_000
) -> dict[int, str]:
    """A LowCardinality dictionary as a collected ``{code: value}``
    dict, memoized per (path, col).  The reference holds LC
    dictionaries RAM-resident the same way; ``max_entries`` guards the
    contract (raise rather than silently collect a high-cardinality
    column — use the broadcast-join ``lc_decode`` for those)."""
    key = (path, col)
    if key not in _LC_MAP_CACHE:
        d = _read_lc_dict(spark, path, col)
        rows = d.limit(max_entries + 1).collect()
        if len(rows) > max_entries:
            raise ValueError(
                f"LC dictionary {col!r} at {path} exceeds "
                f"max_entries={max_entries}; use lc_decode (broadcast "
                "join) instead of a collected map"
            )
        _LC_MAP_CACHE[key] = {
            r["__lc_code"]: r["__lc_value"] for r in rows
        }
    return _LC_MAP_CACHE[key]


def _sql_str(v: str) -> str:
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def lc_decode_expr(
    spark: SparkSession, path: str, col: str, max_entries: int = 100_000
) -> Column:
    """Decode a LowCardinality code column as a PURE PROJECTION — a
    map literal built from the collected dictionary (no join, no extra
    job; ideal AFTER an aggregation, where it touches only group
    rows).  One expr string, not N py4j Column calls."""
    m = lc_dict_map(spark, path, col, max_entries)
    if not m:
        return F.lit(None).cast("string")
    entries = ", ".join(
        f"{c}, {_sql_str(v)}"
        for c, v in sorted(m.items())
        if c is not None and v is not None  # NULL decodes to NULL anyway
    )
    return F.expr(f"element_at(map({entries}), `{col}`)")


def lc_decode(df: DataFrame, spark: SparkSession, path: str, col: str) -> DataFrame:
    """Restore a LowCardinality column's string values by broadcast-
    joining its dictionary — call AFTER the aggregation for late
    materialization (the join then touches group rows, not data rows).
    Dict columns carry reserved ``__lc_*`` names so tables that
    themselves have a ``value`` or ``code`` column decode cleanly."""
    bdict = F.broadcast(_read_lc_dict(spark, path, col))
    order = df.columns
    return (
        df.join(bdict, df[col] == bdict["__lc_code"], "left")
        .withColumn(col, F.col("__lc_value"))
        .drop("__lc_code", "__lc_value")
        .select(*order)
    )


def read_mergetree(
    spark: SparkSession,
    path: str,
    date_range: tuple[str, str] | None = None,
    keep_partition_col: bool = False,
    decode_lc: bool = True,
) -> DataFrame:
    """Read a MergeTree-layout table.  ``date_range=(lo, hi)`` (ISO
    dates, inclusive) prunes month partitions BEFORE the scan — the
    analog of the reference's per-part min/max date part selection
    (MergeTreeDataSelectExecutor part filter; MergeTreeData.h:48-52).
    The yyyyMM partition key compares correctly as a string.

    LowCardinality columns decode transparently (broadcast dict join)
    unless ``decode_lc=False`` — pass False to aggregate on the int
    CODES and decode the group rows afterwards with ``lc_decode``
    (late materialization, the whole point of the encoding)."""
    df = spark.read.parquet(path)
    if date_range is not None:
        lo, hi = date_range
        df = df.filter(
            (F.col("_partition") >= lo[:7].replace("-", ""))
            & (F.col("_partition") <= hi[:7].replace("-", ""))
        )
    if decode_lc:
        # dict discovery through Hadoop's FileSystem — works on every
        # store the session can scan the table from (local, HDFS,
        # object stores), so encoded columns can't silently skip decode.
        # Small dictionaries decode as a map-literal PROJECTION (no
        # join, no dict-scan job); big ones fall back to the broadcast
        # join.
        for col in _list_lc_cols(spark, path):
            if col in df.columns:
                try:
                    df = df.withColumn(
                        col, lc_decode_expr(spark, path, col,
                                            max_entries=10_000)
                    )
                except ValueError:
                    df = lc_decode(df, spark, path, col)
    return df if keep_partition_col else df.drop("_partition")


# --- merge-time semantics as compaction transforms -------------------------


def compact_replacing(
    df: DataFrame, pk: Sequence[str], version: str | None = None
) -> DataFrame:
    """ReplacingMergeTree: keep the max-version row per PK
    (DataStreams/ReplacingSortedBlockInputStream.h:15)."""
    order = [F.col(version).desc()] if version else [F.lit(1)]
    w = Window.partitionBy(*pk).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def compact_summing(
    df: DataFrame,
    pk: Sequence[str],
    metrics: Sequence[str],
    maps: Sequence[Sequence[str]] = (),
) -> DataFrame:
    """SummingMergeTree: sum numeric non-key columns per PK
    (DataStreams/SummingSortedBlockInputStream.h:22).  Non-metric,
    non-key columns take the first row's value like the reference.

    ``maps``: Nested groups named ``*Map`` merge as key→values maps
    (first member is the key, the rest are summed per key; entries
    whose summed values are ALL zero are eliminated; keys sorted) —
    the reference's maps_to_sum path."""
    def _map_members(m) -> list:
        # (key_cols, val_cols) pair, or the legacy flat
        # [key, val, ...] list
        if m and isinstance(m[0], (list, tuple)):
            return list(m[0]) + list(m[1])
        return list(m)

    map_cols = {c for m in maps for c in _map_members(m)}
    other = [
        c for c in df.columns
        if c not in pk and c not in metrics and c not in map_cols
    ]
    qc = lambda c: F.col(f"`{c}`")  # noqa: E731 - dotted Nested names
    aggs = [F.sum(qc(c)).alias(c) for c in metrics]
    aggs += [F.count(F.lit(1)).alias("__sm_cnt")]
    # first row's value (the merge keeps the first-seen row,
    # SummingSortedBlockInputStream::insertCurrentRow)
    aggs += [F.first(qc(c)).alias(c) for c in other]
    elem_t = {
        f.name: f.dataType.elementType.simpleString()
        for f in df.schema.fields
        if f.dataType.typeName() == "array"
    }
    post: list[tuple[list[str], list[str], str]] = []
    for gi, group in enumerate(maps):
        # a member is a KEY when it is the first column or its name
        # ends with ID/Key/Type (SummingSortedBlockInputStream
        # maps_to_sum MapDescription — composite map keys, sorted as
        # tuples in the merged output)
        if isinstance(group[0], (list, tuple)):
            keys, vals = list(group[0]), list(group[1])
        else:
            keys, vals = [group[0]], list(group[1:])
        nk = len(keys)
        fields = ", ".join(
            [f"element_at(`{c}`, __i) AS k{j}" for j, c in enumerate(keys)]
            + [f"element_at(`{c}`, __i) AS v{j}" for j, c in enumerate(vals)]
        )
        entries = (
            f"flatten(collect_list(transform(sequence(1, size(`{keys[0]}`)), "
            f"__i -> struct({fields}))))"
        )
        aggs.append(F.expr(entries).alias(f"__map{gi}"))
        match = " AND ".join(f"e.k{j} = __k.k{j}" for j in range(nk))
        keysel = ", ".join(f"e.k{j} AS k{j}" for j in range(nk))
        keyout = ", ".join(f"__k.k{j} AS k{j}" for j in range(nk))
        zero = " AND ".join(f"s.v{j} = 0" for j in range(len(vals)))
        sums = ", ".join(
            f"aggregate(filter(`__map{gi}`, e -> {match}), "
            f"CAST(0 AS {elem_t[c].upper()}), (acc, e) -> acc + e.v{j}) "
            f"AS v{j}"
            for j, c in enumerate(vals)
        )
        merged = (
            f"filter(transform(array_sort(array_distinct("
            f"transform(`__map{gi}`, e -> struct({keysel})))), "
            f"__k -> struct({keyout}, {sums})), s -> NOT ({zero}))"
        )
        post.append((keys, vals, merged))
    out = df.groupBy(*[qc(k) for k in pk]).agg(*aggs)
    for gi, (keys, vals, merged) in enumerate(post):
        out = out.withColumn(f"__m{gi}", F.expr(merged))
        for j, c in enumerate(keys):
            out = out.withColumn(
                c, F.expr(f"transform(`__m{gi}`, s -> s.k{j})")
            )
        for j, c in enumerate(vals):
            out = out.withColumn(
                c, F.expr(f"transform(`__m{gi}`, s -> s.v{j})")
            )
    # a merged MULTI-ROW group whose every summed column is zero (and
    # whose *Map groups all emptied) is DELETED — the "empty part" case
    # (SummingSortedBlockInputStream current_row_is_zero: the flag is
    # false for single-row groups, and the LAST group is written anyway
    # when the merge output would otherwise be empty — golden 00043)
    if metrics or post:
        zero_conds = [qc(c) == 0 for c in metrics] + [
            F.size(F.col(f"__m{gi}")) == 0 for gi in range(len(post))
        ]
        all_zero = zero_conds[0]
        for z in zero_conds[1:]:
            all_zero = all_zero & z
        out = out.withColumn(
            "__sm_drop",
            F.coalesce(all_zero, F.lit(False)) & (F.col("__sm_cnt") > 1),
        )
        pk_tuple = F.struct(*[qc(k) for k in pk])
        stats = out.agg(
            F.min(F.col("__sm_drop").cast("int")).alias("__sm_alldrop"),
            F.max(pk_tuple).alias("__sm_lastpk"),
        )
        out = out.crossJoin(F.broadcast(stats)).filter(
            (~F.col("__sm_drop"))
            | (
                (F.col("__sm_alldrop") == 1)
                & (pk_tuple == F.col("__sm_lastpk"))
            )
        )
    return out.select(*[qc(c) for c in df.columns])


def compact_collapsing(
    df: DataFrame, pk: Sequence[str], sign: str, order: str | None = None
) -> DataFrame:
    """CollapsingMergeTree: +1/-1 ``sign`` rows cancel pairwise per PK;
    a surviving net-positive group keeps its latest +1 row
    (DataStreams/CollapsingSortedBlockInputStream.h:23).

    One aggregation: per PK compute net sign plus the latest +1 row and
    earliest -1 row; net > 0 keeps the +1 row, net < 0 keeps the -1 row
    (stays mergeable, like the reference), net == 0 drops the group.
    """
    order_col = F.col(order) if order else F.lit(1)
    payload = F.struct(*[F.col(c) for c in df.columns])
    grouped = df.groupBy(*pk).agg(
        F.sum(sign).alias("__net"),
        F.max_by(payload, F.when(F.col(sign) > 0, order_col)).alias("__pos"),
        F.min_by(payload, F.when(F.col(sign) < 0, order_col)).alias("__neg"),
    )
    survivor = F.when(F.col("__net") > 0, F.col("__pos")).otherwise(
        F.col("__neg")
    )
    return (
        grouped.filter(F.col("__net") != 0)
        .select(survivor.alias("__row"))
        .select("__row.*")
    )


def graphite_rollup(
    df: DataFrame,
    ts: str,
    value: str,
    keys: Sequence[str],
    retentions: Sequence[tuple[int, int]],
    now_ts: Column | None = None,
    agg: str = "avg",
    avg_round: int | None = None,
) -> DataFrame:
    """GraphiteMergeTree rollup: downsample by age-dependent precision
    (DataStreams/GraphiteRollupSortedBlockInputStream.h:125).

    ``retentions`` = [(min_age_seconds, precision_seconds), ...] sorted
    by age ascending; a row older than min_age is bucketed to its
    precision and aggregated within the bucket per ``agg`` — the
    pattern's aggregation function in the reference's
    <graphite_rollup> config (avg/sum/max/min/any).  ``avg_exact2``
    computes a decimal-exact average of 2-decimal inputs (sum in
    DECIMAL, divide by count): plain double avg is shuffle-order
    dependent in the last ulp, which flips ROUND boundaries on big
    buckets — the reference avoids this only because its merge is
    single-streamed.  ``avg_round=D`` (avg_exact2 only, non-negative
    values) additionally rounds the average HALF-UP at D decimals on
    the exact rational in integer arithmetic — rounding the double
    afterwards is engine-dependent exactly at half-ties.
    """
    now_ = now_ts if now_ts is not None else F.current_timestamp()
    # Two-step cast: TIMESTAMP_NTZ (how Spark 4.x loads untagged
    # parquet timestamp[us]) cannot cast directly to BIGINT.
    ts_epoch = F.col(ts).cast("timestamp").cast("long")
    age = now_.cast("timestamp").cast("long") - ts_epoch
    precision = F.lit(retentions[0][1])
    for min_age, prec in retentions:
        precision = F.when(age >= min_age, F.lit(prec)).otherwise(precision)
    epoch = ts_epoch
    bucket = F.timestamp_seconds(epoch - (epoch % precision))
    if agg == "avg_exact2":
        from ..operators.exact_sum import exact_sum_scaled

        if avg_round is not None:
            # Exact HALF-UP rounding of (sum / n) at ``avg_round``
            # decimals, computed on INTEGERS: rounding the correctly-
            # rounded double instead ties at the last digit engine-
            # dependently (found at sf1 — two 1-ulp flips per 3600
            # buckets).  round(a/b) = (2a + b) div (2b) for a, b > 0;
            # the final /10^D divides the same integer by the same
            # double on every engine.  Non-negative values only (the
            # half-up identity flips for negative sums).
            scale_f = 10 ** int(avg_round)
            grouped = (
                df.withColumn("__bucket", bucket)
                .groupBy(*keys, "__bucket")
                .agg(
                    exact_sum_scaled(F.col(value)).alias("__s"),
                    F.count(F.lit(1)).alias("__n"),
                )
            )
            return (
                grouped.withColumn(
                    value,
                    F.expr(
                        f"CAST((2 * CAST(__s * {scale_f} AS DECIMAL(38,0))"
                        f" + __n) DIV (2 * __n) AS DOUBLE) / {scale_f}"
                    ),
                )
                .drop("__s", "__n")
                .withColumnRenamed("__bucket", ts)
                .select(*keys, ts, value)
            )
        agg_col = (
            exact_sum_scaled(F.col(value)).cast("double")
            / F.count(F.lit(1))
        ).alias(value)
    else:
        # Explicit allowlist: CH ``any`` = some-value (first seen), but
        # getattr(F, "any") would resolve to PySpark's boolean ANY
        # (bool_or) and fail analysis / change semantics on a metric.
        rollup_aggs = {
            "avg": F.avg,
            "sum": F.sum,
            "max": F.max,
            "min": F.min,
            "any": F.any_value,
        }
        if agg not in rollup_aggs:
            raise ValueError(
                f"graphite_rollup agg must be one of "
                f"{sorted(rollup_aggs)} or 'avg_exact2', got {agg!r}"
            )
        agg_col = rollup_aggs[agg](value).alias(value)
    return (
        df.withColumn("__bucket", bucket)
        .groupBy(*keys, "__bucket")
        .agg(agg_col)
        .withColumnRenamed("__bucket", ts)
    )


def optimize_table(
    spark: SparkSession,
    path: str,
    compaction,
    target_files_per_partition: int = 1,
) -> None:
    """OPTIMIZE-style maintenance job: apply a compaction transform and
    rewrite (the reference's background merge, made explicit).
    Writes to a staging dir then swaps, so readers never see a torn
    table.

    Layout is preserved: a ``_partition``-partitioned table is
    rewritten partitioned (compaction runs per month, like the
    reference's per-part merges), and LowCardinality dictionaries
    under ``__lc__`` carry over unchanged — compaction transforms
    operate on the stored CODES, which the merge semantics
    (first/max/dedup per PK) keep valid."""
    import shutil

    df = spark.read.parquet(path)
    partitioned = "_partition" in df.columns
    compacted = compaction(df)
    staging = path.rstrip("/") + ".__staging__"
    if partitioned:
        # one merged file per month (the post-merge ideal part count);
        # target_files_per_partition applies to unpartitioned tables
        (
            compacted.repartition(F.col("_partition"))
            .write.mode("overwrite")
            .partitionBy("_partition")
            .parquet(staging)
        )
    else:
        compacted.coalesce(target_files_per_partition).write.mode(
            "overwrite"
        ).parquet(staging)
    lc_root = os.path.join(path, "__lc__")
    if os.path.isdir(lc_root):
        shutil.copytree(lc_root, os.path.join(staging, "__lc__"))
    backup = path.rstrip("/") + ".__old__"
    shutil.move(path, backup)
    shutil.move(staging, path)
    shutil.rmtree(backup)
    _evict_lc_cache(path)
