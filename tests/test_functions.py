"""Behavior tests for the scalar- and aggregate-function dialect
(SURVEY.md §2.8), run as CH-SQL through ChEngine.

Style mirrors the reference's golden functional tests
(dbms/tests/queries/0_stateless): tiny literal inputs, exact expected
outputs — but as assertions, not byte-diffs.  Each test is a table of
(CH-SQL expression, expected value) rows evaluated in one SELECT.
"""

from __future__ import annotations

import datetime
import math

import pytest

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect import (
    ChEngine,
)


@pytest.fixture(scope="module")
def eng(spark):
    return ChEngine(spark)


def _same(got, want) -> bool:
    if callable(want):
        return bool(want(got))
    if isinstance(want, float) and not isinstance(got, bool):
        return got is not None and math.isclose(float(got), want, rel_tol=1e-12)
    if isinstance(got, (datetime.date, datetime.datetime)):
        return str(got) == want
    if isinstance(got, (bytes, bytearray)):
        return bytes(got) == want
    return got == want


def check(eng, rows, src: str = "") -> None:
    """Evaluate every row's expression as one column of one SELECT."""
    cols = ", ".join(f"{expr} AS c{i}" for i, (expr, _) in enumerate(rows))
    got = eng.sql(f"SELECT {cols} {src}").first()
    for i, (expr, want) in enumerate(rows):
        assert _same(got[f"c{i}"], want), (expr, got[f"c{i}"], want)


def close(want: float, tol: float):
    return lambda got: got is not None and abs(float(got) - want) < tol


# -- arithmetic -------------------------------------------------------------


def test_int_div(eng):
    check(eng, [
        ("intDiv(7, 2)", 3),
        ("intDiv(-7, 2)", -3),  # trunc toward zero
        ("intDivOrZero(7, 0)", 0),
    ])


def test_modulo_negate_abs(eng):
    check(eng, [("modulo(7, 3)", 1), ("negate(5)", -5), ("abs(-5)", 5)])


def test_bit_ops(eng):
    check(eng, [
        ("bitAnd(6, 3)", 2),
        ("bitOr(6, 3)", 7),
        ("bitXor(6, 3)", 5),
        ("bitShiftLeft(1, 4)", 16),
    ])


def test_xor_logical(eng):
    check(eng, [("xor(1, 0)", 1), ("xor(1, 1)", 0)])


# -- strings ----------------------------------------------------------------


def test_string_basics(eng):
    check(eng, [
        ("length('héllo')", 6),  # bytes
        ("lengthUTF8('héllo')", 5),  # chars
        ("empty('')", 1),
        ("notEmpty('x')", 1),
        ("reverse('abc')", "cba"),
        ("concat('a', 'b', 'c')", "abc"),
        ("substring('hello', 2, 3)", "ell"),
        ("appendTrailingCharIfAbsent('dir', '/')", "dir/"),
        ("appendTrailingCharIfAbsent('dir/', '/')", "dir/"),
    ])


def test_string_search(eng):
    check(eng, [
        ("position('hello', 'll')", 3),
        ("position('hello', 'zz')", 0),
        ("positionCaseInsensitive('HeLLo', 'll')", 3),
        ("match('abc123', '\\\\d+')", 1),
        ("like('hello', 'he%')", 1),
        ("extract('v=42;', 'v=(\\\\d+)')", "42"),
    ])


def test_replace(eng):
    check(eng, [
        ("replaceOne('aaa', 'a', 'b')", "baa"),
        ("replaceAll('aaa', 'a', 'b')", "bbb"),
        ("replaceRegexpOne('a1a2', '\\\\d', 'x')", "axa2"),
        ("replaceRegexpAll('a1a2', '\\\\d', 'x')", "axax"),
        ("replaceOne('abc', 'zz', 'x')", "abc"),
    ])


def test_split(eng):
    check(eng, [
        ("splitByChar(',', 'a,b,,c')", ["a", "b", "", "c"]),
        ("alphaTokens('ab12cd ef')", ["ab", "cd", "ef"]),
        ("arrayStringConcat(['a', 'b'], '-')", "a-b"),
    ])


# -- datetime ---------------------------------------------------------------


def test_datetime_parts(eng):
    ts = "toDateTime('2024-03-15 13:45:30')"
    check(eng, [
        (f"toYear({ts})", 2024),
        (f"toMonth({ts})", 3),
        (f"toDayOfMonth({ts})", 15),
        (f"toDayOfWeek({ts})", 5),  # Friday, Monday=1
        (f"toHour({ts})", 13),
        (f"toMinute({ts})", 45),
        (f"toSecond({ts})", 30),
    ])


def test_datetime_truncation(eng):
    ts = "toDateTime('2024-03-15 13:45:30')"
    check(eng, [
        (f"toMonday({ts})", "2024-03-11"),
        (f"toStartOfMonth({ts})", "2024-03-01"),
        (f"toStartOfQuarter({ts})", "2024-01-01"),
        (f"toStartOfFiveMinute({ts})", "2024-03-15 13:45:00"),
        (f"timeSlot({ts})", "2024-03-15 13:30:00"),
        ("toRelativeDayNum(toDate('1970-01-10'))", 9),
    ])


# -- conversion -------------------------------------------------------------


def test_conversions(eng):
    check(eng, [
        ("toInt32('42')", 42),
        ("toInt32OrZero('oops')", 0),
        ("toFloat64OrZero('1.5')", 1.5),
        ("toString(42)", "42"),
        ("toDate(toDateTime('2024-03-15 13:00:00'))", "2024-03-15"),
        ("toUnixTimestamp(toDateTime('1970-01-01 00:01:00'))", 60),
    ])


# -- rounding ---------------------------------------------------------------


def test_rounding(eng):
    check(eng, [
        ("round(2.5)", 2.0),  # banker's
        ("round(3.5)", 4.0),
        ("roundToExp2(100)", 64),
        ("roundToExp2(0)", 0),
        ("roundDuration(95)", 60),
        ("roundAge(30)", 25),
    ])


# -- conditional / null -----------------------------------------------------


def test_conditional(eng):
    check(eng, [
        ("if(1, 'a', 'b')", "a"),
        ("multiIf(0, 'a', 1, 'b', 'c')", "b"),
        ("caseWithExpr(2, 1, 'one', 2, 'two', 'other')", "two"),
        ("ifNull(NULL, 7)", 7),
        ("nullIf(5, 5)", None),
    ])


# -- arrays -----------------------------------------------------------------


def test_array_element(eng):
    check(eng, [
        ("arrayElement([10, 20, 30], 1)", 10),
        ("arrayElement([10, 20, 30], -1)", 30),
        ("arrayElement([10, 20, 30], 99)", 0),  # type default, not NULL
    ])


def test_array_basics(eng):
    arr = "[1, 2, 2, 3]"
    check(eng, [
        (f"has({arr}, 2)", 1),
        (f"indexOf({arr}, 2)", 2),
        (f"indexOf({arr}, 9)", 0),
        (f"countEqual({arr}, 2)", 2),
        (f"arrayUniq({arr})", 3),
        (f"arrayEnumerate({arr})", [1, 2, 3, 4]),
        ("range(3)", [0, 1, 2]),
        ("range(0)", []),
        (f"arraySlice({arr}, 2, 2)", [2, 2]),
        (f"arraySlice({arr}, 3)", [2, 3]),
    ])


def test_higher_order(eng):
    arr = "[3, 1, 2]"
    check(eng, [
        (f"arrayMap(x -> x * 2, {arr})", [6, 2, 4]),
        (f"arrayFilter(x -> x > 1, {arr})", [3, 2]),
        (f"arrayCount(x -> x > 1, {arr})", 2),
        (f"arrayExists(x -> x = 2, {arr})", 1),
        (f"arrayAll(x -> x > 0, {arr})", 1),
        (f"arraySum({arr})", 6.0),
        (f"arraySort({arr})", [1, 2, 3]),
        (f"arrayReverseSort({arr})", [3, 2, 1]),
        (f"arrayFirst(x -> x > 1, {arr})", 3),
        (f"arrayFirstIndex(x -> x = 2, {arr})", 3),
        (f"arrayFirstIndex(x -> x = 9, {arr})", 0),
    ])


# -- math -------------------------------------------------------------------


def test_math(eng):
    check(eng, [
        ("erf(1.0)", close(math.erf(1.0), 1e-6)),
        ("erfc(0.5)", close(math.erfc(0.5), 1e-6)),
        ("lgamma(5.0)", close(math.lgamma(5.0), 1e-8)),
        ("tgamma(5.0)", close(24.0, 1e-6)),
        ("exp10(2.0)", close(100.0, 1e-9)),
        ("cbrt(27.0)", close(3.0, 1e-9)),
    ])


# -- hashing ----------------------------------------------------------------


def test_hashing(eng):
    check(eng, [
        ("hex(MD5('abc'))", "900150983CD24FB0D6963F7D28E17F72"),
        (
            "hex(SHA256('abc'))",
            "BA7816BF8F01CFEA414140DE5DAE2223B00361A396177A9CB410FF61F20015AD",
        ),
        # intHash64 is an exact avalanche: distinct inputs -> distinct outputs
        (
            "length(arrayDistinct([intHash64(0), intHash64(1), intHash64(2), "
            "intHash64(3), intHash64(4)]))",
            5,
        ),
    ])


# -- url --------------------------------------------------------------------


def test_url(eng):
    u = "'https://www.example.com/a/b?x=1&y=2#frag'"
    check(eng, [
        (f"protocol({u})", "https"),
        (f"domain({u})", "www.example.com"),
        (f"domainWithoutWWW({u})", "example.com"),
        (f"topLevelDomain({u})", "com"),
        (f"path({u})", "/a/b"),
        (f"queryString({u})", "x=1&y=2"),
        (f"fragment({u})", "frag"),
        (f"extractURLParameter({u}, 'y')", "2"),
        (f"extractURLParameterNames({u})", ["x", "y"]),
        (f"cutWWW({u})", "https://example.com/a/b?x=1&y=2#frag"),
        (f"cutFragment({u})", "https://www.example.com/a/b?x=1&y=2"),
        (f"cutQueryStringAndFragment({u})", "https://www.example.com/a/b"),
        (f"cutURLParameter({u}, 'x')", "https://www.example.com/a/b?y=2#frag"),
    ])


def test_url_hierarchy(eng):
    u = "'https://site.io/a/b/c'"
    check(eng, [
        (
            f"URLHierarchy({u})",
            [
                "https://site.io",
                "https://site.io/a",
                "https://site.io/a/b",
                "https://site.io/a/b/c",
            ],
        ),
        # each prefix keeps its trailing separator (FunctionsURL.h
        # URLPathHierarchy)
        (f"URLPathHierarchy({u})", ["/a/", "/a/b/", "/a/b/c"]),
    ])


def test_first_significant_subdomain(eng):
    check(eng, [
        ("firstSignificantSubdomain('http://news.yandex.com.tr/x')", "yandex"),
        ("firstSignificantSubdomain('http://www.example.com/')", "example"),
    ])


# -- ip / encoding ----------------------------------------------------------


def test_ip(eng):
    check(eng, [
        ("IPv4NumToString(3232235777)", "192.168.1.1"),
        ("IPv4StringToNum('192.168.1.1')", 3232235777),
        ("IPv4NumToStringClassC(3232235777)", "192.168.1.xxx"),
        ("hex(255)", "FF"),
        ("bitmaskToArray(50)", [2, 16, 32]),
        ("bitTest(5, 2)", 1),
        ("bitTestAny(5, 1, 2)", 1),
        ("bitTestAll(5, 0, 2)", 1),
    ])


def test_uuid(eng):
    s = "01234567-89ab-cdef-0123-456789abcdef"
    check(eng, [(f"UUIDNumToString(UUIDStringToNum('{s}'))", s)])


# -- json (visitParam) -------------------------------------------------------


def test_visit_param(eng):
    p = "'{\"k\": 69, \"s\": \"hi\", \"b\": true}'"
    check(eng, [
        (f"visitParamHas({p}, 'k')", 1),
        (f"visitParamHas({p}, 'zz')", 0),
        (f"visitParamExtractUInt({p}, 'k')", 69),
        (f"visitParamExtractFloat({p}, 'k')", 69.0),
        (f"visitParamExtractString({p}, 's')", "hi"),
        (f"visitParamExtractBool({p}, 'b')", 1),
    ])


# -- misc -------------------------------------------------------------------


def test_transform(eng):
    check(eng, [
        ("transform(2, [1, 2, 3], ['one', 'two', 'three'], 'other')", "two"),
        ("transform(9, [1, 2], ['one', 'two'], 'other')", "other"),
    ])


def test_misc(eng):
    check(eng, [
        ("formatReadableSize(1536)", "1.50 KiB"),
        ("isFinite(1.0)", 1),
        ("isNaN(toFloat64('nan'))", 1),
        ("isInfinite(toFloat64('inf'))", 1),
        ("tupleElement(tuple(1, 'a'), 2)", "a"),
        # Moscow -> St Petersburg ~635 km
        (
            "greatCircleDistance(37.6173, 55.7558, 30.3141, 59.9386)",
            lambda d: 625_000 < d < 660_000,
        ),
    ])


# -- aggregates -------------------------------------------------------------


def test_aggregates(spark, eng):
    spark.createDataFrame(
        [(1, 10.0, "a"), (1, 20.0, "b"), (2, 30.0, "c"), (2, 5.0, "d")],
        "k int, v double, s string",
    ).createOrReplaceTempView("fn_agg_t")
    rows = eng.sql(
        "SELECT k, count() AS n, countIf(v > 15) AS n_big, "
        "sumIf(v, v > 15) AS s_big, argMax(s, v) AS best, "
        "uniqExact(s) AS u, quantileExact(0.5)(v) AS med "
        "FROM fn_agg_t GROUP BY k ORDER BY k"
    ).collect()
    assert rows[0]["n"] == 2 and rows[0]["n_big"] == 1 and rows[0]["s_big"] == 20.0
    assert rows[0]["best"] == "b" and rows[1]["best"] == "c"
    # nth element at floor(0.5 * 2) of [5, 30], no interpolation
    # (AggregateFunctionQuantileExact.h)
    assert rows[1]["med"] == 30.0


def test_uniq_up_to(eng):
    check(eng, [
        # more than 5 distinct -> N+1
        ("uniqUpTo(5)(number % 7)", 6),
    ], "FROM (SELECT number FROM system.numbers LIMIT 100)")
    check(eng, [("uniqUpTo(5)(number % 3)", 3)],
          "FROM (SELECT number FROM system.numbers LIMIT 10)")


def test_sum_array_combinator(spark, eng):
    spark.createDataFrame(
        [([1.0, 2.0],), ([3.0],)], "a array<double>"
    ).createOrReplaceTempView("fn_arr_t")
    check(eng, [("sumArray(a)", 6.0), ("countArray(a)", 3)], "FROM fn_arr_t")


def test_sum_map(spark, eng):
    spark.createDataFrame(
        [(["a", "b"], [1.0, 2.0]), (["b", "c"], [3.0, 4.0])],
        "k array<string>, v array<double>",
    ).createOrReplaceTempView("fn_map_t")
    check(eng, [("sumMap(k, v)", {"a": 1.0, "b": 5.0, "c": 4.0})],
          "FROM fn_map_t")
