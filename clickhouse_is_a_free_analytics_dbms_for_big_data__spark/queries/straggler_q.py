"""Long-tail function queries: arrayEnumerateUniq sessionization,
arrayReduce, reinterpret roundtrip."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_tables
from .dialect_q import _engine
from .registry import query


def _t(spark: SparkSession, sf_dir: str, *names: str):
    dfs = load_tables(spark, sf_dir, tuple(names))
    return [dfs[n] for n in names]


@query(
    "fn_enumerate_uniq_sessionize",
    """
    SELECT doc_id, p[1] AS tok,
           ROW_NUMBER() OVER (
             PARTITION BY doc_id, p[1] ORDER BY p[2]
           ) AS occurrence
    FROM (
      SELECT doc_id,
             unnest(list_zip(toks, generate_series(1, len(toks)))) AS p
      FROM (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id % 97 = 0
      )
    )
    """,
    doc="arrayEnumerateUniq (FunctionsArray.cpp) — occurrence rank per "
    "value, the reference's sessionization primitive.  r11: computed "
    "at TABLE level (posexplode + row_number per (doc_id, tok) by "
    "position) — the form the array operator's own doc prescribes for "
    "long arrays: the array-side lambda is O(len^2) and higher-order "
    "functions run INTERPRETED per element (no codegen), measured "
    "4.4 s vs 0.3 s here on ~200-token docs, and quadratic blowup on "
    "the long documents a 100 TB corpus contains.  The array-side "
    "form (the dialect's arrayEnumerateUniq) stays for short arrays; "
    "values are identical (the oracle always computed it "
    "relationally).",
    tags=("functions", "array"),
)
def fn_enumerate_uniq_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (docs,) = _t(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok"))
    )
    w = Window.partitionBy("doc_id", "tok").orderBy("pos0")
    return (
        toks.withColumn("occurrence", F.row_number().over(w).cast("long"))
        .orderBy("doc_id", F.col("pos0"))
        .select("doc_id", "tok", "occurrence")
    )


@query(
    "fn_array_reduce",
    """
    SELECT o_custkey,
           CAST(list_sum(prices) AS DOUBLE) AS total,
           CAST(list_max(prices) AS DOUBLE) AS biggest,
           len(prices) AS n
    FROM (
      SELECT o_custkey, list(o_totalprice ORDER BY o_orderkey) AS prices
      FROM orders GROUP BY o_custkey
    )
    WHERE o_custkey % 50 = 0
    ORDER BY o_custkey
    """,
    doc="arrayReduce('sum'/'max'/'count', arr) (FunctionsArray.h:1387) "
    "over per-key collected arrays — array-native, no second shuffle.",
    tags=("functions", "array"),
)
def fn_array_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (orderkey, price) tuples sorted by key: the array keeps the oracle's
    # ORDER BY o_orderkey, so the float sum adds in the same order
    return _engine(spark, sf_dir).sql(
        """
        SELECT o_custkey,
               toFloat64(arrayReduce('sum', prices)) AS total,
               toFloat64(arrayReduce('max', prices)) AS biggest,
               toInt64(arrayReduce('count', prices)) AS n
        FROM (
            SELECT o_custkey,
                   arrayMap(t -> tupleElement(t, 2),
                            arraySort(groupArray(tuple(o_orderkey, o_totalprice))))
                       AS prices
            FROM orders GROUP BY o_custkey
        )
        WHERE o_custkey % 50 = 0
        ORDER BY o_custkey
        """
    )


@query(
    "fn_reinterpret_roundtrip",
    """
    SELECT n_nationkey,
           chr(65 + (n_nationkey % 26)) AS s,
           (65 + (n_nationkey % 26)) AS back
    FROM nation ORDER BY n_nationkey
    """,
    doc="reinterpretAsString / reinterpretAsUInt32 roundtrip "
    "(FunctionsReinterpret.cpp): int bytes ↔ string, little-endian.",
    tags=("functions", "reinterpret"),
)
def fn_reinterpret_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT n_nationkey, toString(reinterpretAsString(code)) AS s,
               toInt64(reinterpretAsUInt32(reinterpretAsString(code))) AS back
        FROM (SELECT n_nationkey, toInt64(65 + n_nationkey % 26) AS code FROM nation)
        ORDER BY n_nationkey
        """
    )


@query(
    "fn_sum_foreach",
    """
    WITH a AS (
      SELECT l_returnflag,
             ([CAST(l_quantity AS BIGINT), CAST(l_linenumber AS BIGINT),
               CAST(l_partkey % 10 AS BIGINT)])[:(l_linenumber % 3 + 1)] AS arr
      FROM lineitem
    )
    SELECT l_returnflag,
           ARRAY_TO_STRING(LIST_TRANSFORM(
               [CAST(COALESCE(SUM(arr[1]), 0) AS BIGINT),
                CAST(COALESCE(SUM(arr[2]), 0) AS BIGINT),
                CAST(COALESCE(SUM(arr[3]), 0) AS BIGINT)],
               x -> CAST(x AS VARCHAR)), ',') AS sums
    FROM a GROUP BY 1 ORDER BY 1
    """,
    doc="sumForEach — the -ForEach combinator "
    "(AggregateFunctions/AggregateFunctionForEach.h, factory "
    "AggregateFunctionFactory.cpp:51-55): per-index aggregation across "
    "variable-length arrays; missing indexes sum as 0 (the combinator's "
    "zero-fill semantics).  Output serialized to a CSV string: the "
    "driver's pandas canonicalizer cannot sort bare array columns.",
    tags=("functions", "aggregate", "combinator"),
)
def fn_sum_foreach(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT l_returnflag,
               arrayStringConcat(arrayMap(x -> toString(toInt64(x)), sumForEach(arr)), ',')
                   AS sums
        FROM (
            SELECT l_returnflag,
                   arraySlice([toInt64(l_quantity), toInt64(l_linenumber),
                               toInt64(l_partkey % 10)],
                              1, toInt32(l_linenumber % 3 + 1)) AS arr
            FROM lineitem
        )
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


@query(
    "fn_quantile_weighted",
    """
    SELECT l_returnflag, quantile_cont(v, 0.5) AS q FROM (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem, UNNEST(range(CAST(l_linenumber AS BIGINT))) AS t(i)
    ) GROUP BY 1 ORDER BY 1
    """,
    doc="quantileExactWeighted "
    "(AggregateFunctionQuantileExactWeighted.h): exact weighted median "
    "via percentile(x, p, frequency); oracle expands each row by its "
    "weight and takes the continuous quantile.",
    tags=("functions", "aggregate"),
)
def fn_quantile_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the oracle interpolates, the reference's quantileExactWeighted
    # does not: Spark's percentile(x, p, frequency) through the translator
    return _engine(spark, sf_dir).sql(
        """
        SELECT l_returnflag, percentile(toInt64(l_quantity), 0.5, l_linenumber) AS q
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )