"""Spark SQL UDFs backing dialect functions that are too large to
inline as expression templates.

Reference: dbms/src/Functions/FunctionsCoding.cpp
(FunctionIPv6NumToString, FunctionIPv6StringToNum, FunctionCutIPv6).
The IPv6 "num" form is FixedString(16) there -> BINARY(16) here, and
formatting follows RFC 5952: leading zeros stripped, the leftmost
longest zero run of length >= 2 collapsed to '::', v4-mapped addresses
rendered as ::ffff:a.b.c.d.

These are Spark *SQL* UDFs (CREATE TEMPORARY FUNCTION ... RETURN expr,
Spark 4.x): the body is inlined into the plan by Catalyst, so they stay
on the codegen'd JVM path — no Python round-trip.

Single-assignment lets are expressed as
``element_at(transform(array(v), x -> body), 1)`` so a bound
subexpression is evaluated once per row no matter how many times the
body references it (composition like IPv6NumToString(IPv6StringToNum(s))
would otherwise duplicate the parse tree combinatorially).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _let(value_sql: str, var: str, body_sql: str) -> str:
    return f"element_at(transform(array({value_sql}), {var} -> {body_sql}), 1)"


def _ipv4_num(s: str) -> str:
    """Dotted-quad string expr -> BIGINT (0 when malformed)."""
    p = f"split({s}, '\\\\.')"
    return (
        f"coalesce(CAST({p}[0] AS BIGINT) * 16777216 + "
        f"CAST({p}[1] AS BIGINT) * 65536 + "
        f"CAST({p}[2] AS BIGINT) * 256 + CAST({p}[3] AS BIGINT), "
        f"CAST(0 AS BIGINT))"
    )


def _ipv6_fmt_body() -> str:
    """Body of __ch_ipv6_fmt(h STRING): canonical text from the 32-char
    lowercase hex rendering of the 16 address bytes."""
    groups = "transform(sequence(0, 7), __i -> CAST(conv(substr(h, 1 + 4 * __i, 4), 16, 10) AS BIGINT))"
    # __runs[i] = length of the zero run starting at group i: distance
    # to the first nonzero group at or after i (8 - i when none).
    runs = (
        "transform(sequence(0, 7), __i -> coalesce(array_min(filter("
        "transform(sequence(__i, 7), __j -> "
        "IF(element_at(__v, __j + 1) <> 0, __j - __i, CAST(NULL AS INT))), "
        "__x -> __x IS NOT NULL)), 8 - __i))"
    )
    gtxt = "transform(__v, __g -> lower(format_string('%x', __g)))"
    best = "array_max(__r)"
    pos = f"array_position(__r, {best})"  # 1-based leftmost longest run
    compressed = (
        f"concat(array_join(slice({gtxt}, 1, {pos} - 1), ':'), '::', "
        f"array_join(slice({gtxt}, {pos} + {best}, 9 - {pos} - {best}), ':'))"
    )
    v4_mapped = (
        "element_at(__v, 1) = 0 AND element_at(__v, 2) = 0 AND "
        "element_at(__v, 3) = 0 AND element_at(__v, 4) = 0 AND "
        "element_at(__v, 5) = 0 AND element_at(__v, 6) = 65535"
    )
    v4_txt = (
        "concat('::ffff:', CAST(element_at(__v, 7) DIV 256 AS STRING), '.', "
        "CAST(element_at(__v, 7) % 256 AS STRING), '.', "
        "CAST(element_at(__v, 8) DIV 256 AS STRING), '.', "
        "CAST(element_at(__v, 8) % 256 AS STRING))"
    )
    case = (
        f"CASE WHEN {v4_mapped} THEN {v4_txt} "
        f"WHEN {best} >= 2 THEN {compressed} "
        f"ELSE array_join({gtxt}, ':') END"
    )
    return _let(groups, "__v", _let(runs, "__r", case))


def _ipv6_parse_body() -> str:
    """Body of IPv6StringToNum(s STRING) -> BINARY(16)."""
    # dotted-v4 tail ('::ffff:1.2.3.4') rewritten to two hex groups
    tail_re = "'((\\\\d{1,3}\\\\.){3}\\\\d{1,3})$'"
    v4hex = f"lpad(lower(format_string('%x', {_ipv4_num('__t')})), 8, '0')"
    with_tail = (
        f"CASE WHEN __t <> '' THEN concat("
        f"substr(__s, 1, length(__s) - length(__t)), "
        f"regexp_replace({v4hex}, '^(....)(....)$', '$1:$2')) "
        f"ELSE __s END"
    )
    # split on '::'; pad the middle with zero groups to 8 total
    lgroups = "filter(split(element_at(__h, 1), ':'), __g -> __g <> '')"
    rgroups = (
        "CASE WHEN size(__h) > 1 THEN "
        "filter(split(element_at(__h, 2), ':'), __g -> __g <> '') "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    full = (
        "CASE WHEN size(__h) > 1 THEN "
        "concat(__l, array_repeat('0', 8 - size(__l) - size(__r)), __r) "
        "ELSE __l END"
    )
    # unparseable / empty input yields all-zero bytes, never NULL
    # (FunctionIPv6StringToNum writes a zeroed in6_addr on failure)
    build = _let(
        f"unhex(array_join(transform({full}, __g -> lpad(__g, 4, '0')), ''))",
        "__b",
        "CASE WHEN length(__b) = 16 THEN __b "
        "ELSE unhex(repeat('00', 16)) END",
    )
    body = _let(lgroups, "__l", _let(rgroups, "__r", build))
    body = _let("split(__c, '::', -1)", "__h", body)
    body = _let(with_tail, "__c", body)
    body = _let(f"regexp_extract(__s, {tail_re}, 1)", "__t", body)
    return _let("lower(s)", "__s", body)


_DDL: tuple[str, ...] = (
    # shared formatter over the 32-char lowercase hex form
    "CREATE OR REPLACE TEMPORARY FUNCTION __ch_ipv6_fmt(h STRING) "
    f"RETURNS STRING RETURN {_ipv6_fmt_body()}",
    "CREATE OR REPLACE TEMPORARY FUNCTION IPv6NumToString(b BINARY) "
    "RETURNS STRING RETURN __ch_ipv6_fmt(lower(hex(b)))",
    "CREATE OR REPLACE TEMPORARY FUNCTION IPv6StringToNum(s STRING) "
    f"RETURNS BINARY RETURN {_ipv6_parse_body()}",
    # zero the last N bytes (N differs for v4-mapped) and re-format —
    # the reference's anonymization helper
    "CREATE OR REPLACE TEMPORARY FUNCTION cutIPv6(b BINARY, n6 INT, n4 INT) "
    "RETURNS STRING RETURN __ch_ipv6_fmt("
    "CASE WHEN substr(lower(hex(b)), 1, 20) = repeat('0', 20) "
    "AND substr(lower(hex(b)), 21, 4) = 'ffff' "
    "THEN rpad(substr(lower(hex(b)), 1, (16 - n4) * 2), 32, '0') "
    "ELSE rpad(substr(lower(hex(b)), 1, (16 - n6) * 2), 32, '0') END)",
)


def register_sql_udfs(spark: SparkSession) -> None:
    """Idempotently (re)create the dialect's SQL UDFs on the session."""
    for ddl in _DDL:
        spark.sql(ddl)
