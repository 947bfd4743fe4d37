"""Queries exercising the scalar/aggregate function dialect (§2.8) on
the test corpus, each with a DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .dialect_q import _engine
from .registry import query


@query(
    "fn_date_parts",
    """
    SELECT YEAR(o_orderdate) AS y, MONTH(o_orderdate) AS m, COUNT(*) AS cnt,
           CAST(SUM(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM orders GROUP BY y, m ORDER BY y, m
    """,
    doc="toYear/toMonth bucketing (FunctionsDateTime.cpp).",
    tags=("functions", "datetime"),
)
def fn_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT toYear(o_orderdate) AS y, toMonth(o_orderdate) AS m, count() AS cnt,
               toFloat64(sum(CAST(o_totalprice AS DECIMAL(18, 2)))) AS revenue
        FROM orders GROUP BY y, m ORDER BY y, m
        """
    )


@query(
    "fn_day_of_week_monday",
    """
    SELECT isodow(o_orderdate) AS dow,
           strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS monday_sample,
           COUNT(*) AS cnt
    FROM orders WHERE YEAR(o_orderdate) = 1997 AND WEEK(o_orderdate) = 30
    GROUP BY dow, monday_sample ORDER BY dow
    """,
    doc="toDayOfWeek (Monday=1) + toMonday — the reference's "
    "Monday-anchored week functions (SURVEY §7 off-by-one trap).",
    tags=("functions", "datetime"),
)
def fn_day_of_week_monday(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ISO week number: the reference has no toISOWeek, so the filter
    # calls Spark's weekofyear through the translator
    return _engine(spark, sf_dir).sql(
        """
        SELECT toDayOfWeek(o_orderdate) AS dow,
               toString(toMonday(o_orderdate)) AS monday_sample, count() AS cnt
        FROM orders
        WHERE toYear(o_orderdate) = 1997 AND weekofyear(o_orderdate) = 30
        GROUP BY dow, monday_sample ORDER BY dow
        """
    )


@query(
    "fn_string_ops",
    """
    SELECT UPPER(p_brand) AS brand_u, STRLEN(p_name) AS name_len,
           SUBSTRING(p_type, 1, 5) AS type5, COUNT(*) AS cnt
    FROM part WHERE INSTR(p_name, 'red') > 0
    GROUP BY brand_u, name_len, type5 ORDER BY brand_u, name_len, type5
    """,
    doc="upper/length(bytes)/substring/position (FunctionsString.cpp, "
    "FunctionsStringSearch.cpp).",
    tags=("functions", "string"),
)
def fn_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT upper(p_brand) AS brand_u, length(p_name) AS name_len,
               substring(p_type, 1, 5) AS type5, count() AS cnt
        FROM part WHERE position(p_name, 'red') > 0
        GROUP BY brand_u, name_len, type5 ORDER BY brand_u, name_len, type5
        """
    )


@query(
    "fn_conditional_transform",
    """
    SELECT CASE o_orderstatus WHEN 'F' THEN 'finished' WHEN 'O' THEN 'open'
                              ELSE 'other' END AS status_label,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS size_label,
           COUNT(*) AS cnt
    FROM orders GROUP BY status_label, size_label ORDER BY status_label, size_label
    """,
    doc="transform() value remap + multiIf (FunctionsTransform.h:53, "
    "FunctionsConditional.cpp).",
    tags=("functions", "conditional"),
)
def fn_conditional_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT transform(o_orderstatus, ['F', 'O'], ['finished', 'open'], 'other')
                   AS status_label,
               multiIf(o_totalprice > 200000, 'big',
                       o_totalprice > 100000, 'mid', 'small') AS size_label,
               count() AS cnt
        FROM orders GROUP BY status_label, size_label
        ORDER BY status_label, size_label
        """
    )


@query(
    "fn_visit_param",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                 THEN 1 END) AS cnt_big
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="visitParamExtractUInt over the events.props field "
    "(FunctionsVisitParam.cpp) + countIf combinator.",
    tags=("functions", "json"),
)
def fn_visit_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT event_type,
               toInt64(sum(visitParamExtractUInt(props, 'k'))) AS sum_k,
               countIf(visitParamExtractUInt(props, 'k') > 50) AS cnt_big
        FROM events GROUP BY event_type ORDER BY event_type
        """
    )


@query(
    "fn_higher_order",
    """
    SELECT doc_id,
           LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> LEN(x) > 4)) AS n_long,
           CAST(LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(text, ' '), x -> LEN(x)))
                AS DOUBLE) AS sum_len
    FROM documents ORDER BY doc_id LIMIT 100
    """,
    doc="arrayFilter/arrayCount/arrayMap/arraySum lambdas "
    "(FunctionsHigherOrder.h:34-853) — all JVM-side higher-order exprs.",
    tags=("functions", "higher_order"),
)
def fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT doc_id,
               arrayCount(x -> lengthUTF8(x) > 4, splitByChar(' ', text)) AS n_long,
               arraySum(x -> lengthUTF8(x), splitByChar(' ', text)) AS sum_len
        FROM documents ORDER BY doc_id LIMIT 100
        """
    )


@query(
    "fn_arithmetic",
    """
    SELECT CAST(l_quantity AS BIGINT) // 10 AS qty_bucket,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
           COUNT(*) AS cnt,
           CAST(MIN(LEAST(l_discount, l_tax)::DECIMAL(18,2)) AS DOUBLE) AS min_rate,
           CAST(MAX(GREATEST(l_discount, l_tax)::DECIMAL(18,2)) AS DOUBLE) AS max_rate
    FROM lineitem GROUP BY qty_bucket, key_mod ORDER BY qty_bucket, key_mod
    """,
    doc="intDiv/modulo/least/greatest (FunctionsArithmetic.cpp).",
    tags=("functions", "arithmetic"),
)
def fn_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT intDiv(toInt64(l_quantity), 10) AS qty_bucket,
               l_orderkey % 7 AS key_mod, count() AS cnt,
               toFloat64(min(least(CAST(l_discount AS DECIMAL(18, 2)),
                                   CAST(l_tax AS DECIMAL(18, 2))))) AS min_rate,
               toFloat64(max(greatest(CAST(l_discount AS DECIMAL(18, 2)),
                                      CAST(l_tax AS DECIMAL(18, 2))))) AS max_rate
        FROM lineitem GROUP BY qty_bucket, key_mod ORDER BY qty_bucket, key_mod
        """
    )


@query(
    "fn_url_parsing",
    """
    WITH urls AS (
        SELECT 'https://' || source || '.example.com/' || lang || '/doc/'
               || CAST(doc_id AS VARCHAR) || '?ref=feed#top' AS url
        FROM documents
    )
    SELECT regexp_extract(url, '^([a-zA-Z]+)://', 1) AS proto,
           regexp_extract(url, '://([^/]+)/', 1) AS host,
           COUNT(*) AS cnt
    FROM urls GROUP BY proto, host ORDER BY host
    """,
    doc="protocol()/domain() URL decomposition (FunctionsURL.cpp) over "
    "synthesized URLs (corpus has no URL column).",
    tags=("functions", "url"),
)
def fn_url_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT protocol(url) AS proto, domain(url) AS host, count() AS cnt
        FROM (
            SELECT concat('https://', source, '.example.com/', lang, '/doc/',
                          toString(doc_id), '?ref=feed#top') AS url
            FROM documents
        )
        GROUP BY proto, host ORDER BY host
        """
    )


@query(
    "fn_quantiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           ROUND(stddev_samp(l_extendedprice), 4) AS sd
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="quantileExact + stddevSamp (AggregateFunctionQuantileExact.h, "
    "AggregateFunctionsStatistics.h); rounded to absorb last-ulp "
    "interpolation differences.  r11: BOTH levels from ONE "
    "percentile(col, array(levels)) buffer — two separate percentile "
    "aggregates each buffer and sort every group's values "
    "independently (the reference's quantiles() multi-level form, "
    "AggregateFunctionQuantile.h: one state, many levels); values "
    "identical, one value buffer instead of two.",
    tags=("functions", "aggregate"),
)
def fn_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the oracle interpolates (quantile_cont) where the reference's
    # quantileExact takes the nth element, so both levels come from
    # Spark's percentile over one value buffer
    return _engine(spark, sf_dir).sql(
        """
        SELECT l_returnflag, round(qq[1], 4) AS p50, round(qq[2], 4) AS p90,
               round(sd_raw, 4) AS sd
        FROM (
            SELECT l_returnflag, percentile(l_extendedprice, [0.5, 0.9]) AS qq,
                   stddevSamp(l_extendedprice) AS sd_raw
            FROM lineitem GROUP BY l_returnflag
        )
        ORDER BY l_returnflag
        """
    )


@query(
    "fn_ip_roundtrip",
    """
    WITH ips AS (
        SELECT event_id, 167772160 + user_id * 997 AS ipnum FROM events
    )
    SELECT CAST(ipnum // 16777216 % 256 AS VARCHAR) || '.' ||
           CAST(ipnum // 65536 % 256 AS VARCHAR) || '.' ||
           CAST(ipnum // 256 % 256 AS VARCHAR) || '.' ||
           CAST(ipnum % 256 AS VARCHAR) AS ip,
           COUNT(*) AS cnt
    FROM ips GROUP BY ip ORDER BY ip
    """,
    doc="IPv4NumToString over synthesized addresses (FunctionsCoding.cpp).",
    tags=("functions", "ip"),
)
def fn_ip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT IPv4NumToString(167772160 + user_id * 997) AS ip, count() AS cnt
        FROM events GROUP BY ip ORDER BY ip
        """
    )


@query(
    "fn_rounding_buckets",
    """
    SELECT CASE WHEN value < 1 THEN 0
                ELSE CAST(POWER(2, FLOOR(LOG2(value))) AS BIGINT) END AS exp2_bucket,
           COUNT(*) AS cnt
    FROM events GROUP BY exp2_bucket ORDER BY exp2_bucket
    """,
    doc="roundToExp2 bucketing (FunctionsRound.cpp).",
    tags=("functions", "rounding"),
)
def fn_rounding_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT roundToExp2(value) AS exp2_bucket, count() AS cnt
        FROM events GROUP BY exp2_bucket ORDER BY exp2_bucket
        """
    )


@query(
    "fn_group_array_sorted",
    """
    SELECT n_regionkey,
           ARRAY_TO_STRING(LIST_SORT(LIST(n_name)), '|') AS nations
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    doc="groupArray rendered sorted (AggregateFunctionGroupArray.h).",
    tags=("functions", "aggregate"),
)
def fn_group_array_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT n_regionkey,
               arrayStringConcat(arraySort(groupArray(n_name)), '|') AS nations
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
        """
    )
