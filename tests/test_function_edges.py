"""Hostile-input table for the function library.

The dialect emitters in ``dialect/functions_map.py`` are the only
implementation of the reference's function names.  Each case runs one
function over a column of edge values (NULL, '', non-ASCII, IPv4/IPv6
hosts, trailing dots, '?'/'#' combinations, negatives, 0, UInt32 and
Int64 extremes, empty arrays) and pins the whole result column.  Where
a value is not obvious the comment names the reference rule or golden
that decides it.
"""

from __future__ import annotations

import datetime
import decimal
import math

import pytest

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect import (
    ChEngine,
)

NAN = float("nan")


def _bits(positions) -> list[int]:
    """Powers of two for the given bit positions, bit 63 as Int64."""
    return [-(1 << 63) if b == 63 else 1 << b for b in positions]


EDGES = {
    "u": ("STRING", [
        None, "", "not a url", "http://10.0.0.1/x", "http://yandex.ru./a",
        "https://www.example.com/a/b?x=1&y=2#frag", "https://a.b/p?q=1#f",
        "https://a.b/p", "https://a.b/p?", "https://a.b/p#f",
        "https://a.b/p?#", "http://[2001:db8::1]:8080/path?a=1",
        "http://пример.рф/путь?к=в#я", "http://a.com?q=1&q=2#",
    ]),
    "s": ("STRING", [None, "", "abc", "héllo", "日本語", "a,b,,c", "\t"]),
    "n": ("STRING", [None, "", "42", "-1", "1.5", " 7", "oops", "1e3"]),
    "i": ("BIGINT", [
        None, 0, 1, -1, -7, 5, 255, 4294967295, 4294967296, 3232235777,
        -2147483648, 9223372036854775807,
    ]),
    "f": ("DOUBLE", [None, 0.0, -1.0, 5.0, 100.0, 1e300, NAN]),
    "a": ("ARRAY<BIGINT>", [None, [], [1], [3, 1, 2], [None, 1], [-1, 0, 1]]),
    "j": ("STRING", [
        None, "", '{"k": 69, "s": "hi", "b": true}', '{"k":"x"}', "garbage",
    ]),
    "p": ("STRING", [
        None, "", "192.168.1.1", "0.0.0.0", "255.255.255.255", "1.2.3", "abc",
    ]),
}
VIEW = {v: f"fn_edge_{v}" for v in EDGES}

# (label, edge column, expression over x, pinned result per edge row)
SCALAR_CASES = [
    # NULL in, NULL out; no scheme → ''
    ('protocol', 'u', 'protocol(x)', [
        None, '', '', 'http', 'http', 'https', 'https', 'https', 'https', 'https',
        'https', 'http', 'http', 'http',
    ]),
    ('domain', 'u', 'domain(x)', [
        None, '', '', '10.0.0.1', 'yandex.ru.', 'www.example.com', 'a.b', 'a.b', 'a.b',
        'a.b', 'a.b', '[2001:db8::1]', '', 'a.com',
    ]),
    ('domainWithoutWWW', 'u', 'domainWithoutWWW(x)', [
        None, '', '', '10.0.0.1', 'yandex.ru.', 'example.com', 'a.b', 'a.b', 'a.b',
        'a.b', 'a.b', '[2001:db8::1]', '', 'a.com',
    ]),
    # IPv4 host → ''; one trailing dot stripped (golden ref_00398)
    ('topLevelDomain', 'u', 'topLevelDomain(x)', [
        None, '', '', '', 'ru', 'com', 'b', 'b', 'b', 'b', 'b', '', '', 'com',
    ]),
    ('firstSignificantSubdomain', 'u', 'firstSignificantSubdomain(x)', [
        None, '', '', '0', 'yandex', 'example', 'a', 'a', 'a', 'a', 'a', '[2001',
        'пример', 'a',
    ]),
    # the first '/' must open '//' (FunctionsURL.h ExtractPathFull)
    ('pathFull', 'u', 'pathFull(x)', [
        None, '', '', '/x', '/a', '/a/b?x=1&y=2#frag', '/p?q=1#f', '/p', '/p?', '/p#f',
        '/p?#', '/path?a=1', '/путь?к=в#я', '',
    ]),
    # without '?' the fragment keeps its '#'
    ('queryStringAndFragment', 'u', 'queryStringAndFragment(x)', [
        None, '', '', '', '', 'x=1&y=2#frag', 'q=1#f', '', '', '#f', '#', 'a=1',
        'к=в#я', 'q=1&q=2#',
    ]),
    ('extractURLParameter', 'u', "extractURLParameter(x, 'q')", [
        None, '', '', '', '', '', '1', '', '', '', '', '', '', '1',
    ]),
    # '?#' yields one empty parameter (ExtractURLParameters)
    ('extractURLParameters', 'u', 'extractURLParameters(x)', [
        None, [], [], [], [], ['x=1', 'y=2'], ['q=1'], [], [], [], [''], ['a=1'],
        ['к=в'], ['q=1', 'q=2'],
    ]),
    ('extractURLParameterNames', 'u', 'extractURLParameterNames(x)', [
        None, [], [], [], [], ['x', 'y'], ['q'], [], [], [], [''], ['a'], ['к'],
        ['q', 'q'],
    ]),
    ('URLPathHierarchy', 'u', 'URLPathHierarchy(x)', [
        None, [], [], ['/x'], ['/a'],
        ['/a/', '/a/b?', '/a/b?x=1&y=2#', '/a/b?x=1&y=2#frag'],
        ['/p?', '/p?q=1#', '/p?q=1#f'], ['/p'], ['/p?'], ['/p#', '/p#f'], ['/p?'],
        ['/path?', '/path?a=1'], ['/путь?', '/путь?к=в#', '/путь?к=в#я'], ['?q=1&q=2#'],
    ]),
    # the cut stops at '#' (ExtractQueryString)
    ('cutQueryString', 'u', 'cutQueryString(x)', [
        None, '', 'not a url', 'http://10.0.0.1/x', 'http://yandex.ru./a',
        'https://www.example.com/a/b#frag', 'https://a.b/p#f', 'https://a.b/p',
        'https://a.b/p', 'https://a.b/p#f', 'https://a.b/p#',
        'http://[2001:db8::1]:8080/path', 'http://пример.рф/путь#я', 'http://a.com#',
    ]),
    ('cutQueryStringAndFragment', 'u', 'cutQueryStringAndFragment(x)', [
        None, '', 'not a url', 'http://10.0.0.1/x', 'http://yandex.ru./a',
        'https://www.example.com/a/b', 'https://a.b/p', 'https://a.b/p',
        'https://a.b/p', 'https://a.b/p', 'https://a.b/p',
        'http://[2001:db8::1]:8080/path', 'http://пример.рф/путь', 'http://a.com',
    ]),
    # 'q=1' cut with its trailing '&', else the leading one
    ('cutURLParameter', 'u', "cutURLParameter(x, 'q')", [
        None, '', 'not a url', 'http://10.0.0.1/x', 'http://yandex.ru./a',
        'https://www.example.com/a/b?x=1&y=2#frag', 'https://a.b/p?#f', 'https://a.b/p',
        'https://a.b/p?', 'https://a.b/p#f', 'https://a.b/p?#',
        'http://[2001:db8::1]:8080/path?a=1', 'http://пример.рф/путь?к=в#я',
        'http://a.com?q=2#',
    ]),
    ('empty', 's', 'empty(x)', [
        None, 1, 0, 0, 0, 0, 0,
    ]),
    # bytes, not characters
    ('length', 's', 'length(x)', [
        None, 0, 3, 6, 9, 6, 1,
    ]),
    # ASCII letters only
    ('upper', 's', 'upper(x)', [
        None, '', 'ABC', 'HéLLO', '日本語', 'A,B,,C', '\t',
    ]),
    # byte offset
    ('position', 's', "position(x, 'l')", [
        None, 0, 0, 4, 0, 0, 0,
    ]),
    ('appendTrailingCharIfAbsent', 's', "appendTrailingCharIfAbsent(x, ',')", [
        None, '', 'abc,', 'héllo,', '日本語,', 'a,b,,c,', '\t,',
    ]),
    # one element per character
    ('splitByString_empty', 's', "splitByString('', x)", [
        None, [''], ['a', 'b', 'c'], ['h', 'é', 'l', 'l', 'o'], ['日', '本', '語'],
        ['a', ',', 'b', ',', ',', 'c'], ['\t'],
    ]),
    ('hex_MD5', 's', 'hex(MD5(x))', [
        None, 'D41D8CD98F00B204E9800998ECF8427E', '900150983CD24FB0D6963F7D28E17F72',
        'BE50E8478CF24FF3595BC7307FB91B50', '00110AF8B4393EF3F72C50BE5B332BEC',
        'E25525E3D41F57BE29AB0ECF3365BA14', '5E732A1878BE2342DBFEFF5FE3CA5AA3',
    ]),
    ('hex_SHA1', 's', 'hex(SHA1(x))', [
        None, 'DA39A3EE5E6B4B0D3255BFEF95601890AFD80709',
        'A9993E364706816ABA3E25717850C26C9CD0D89D',
        '35B5EA45C5E41F78B46A937CC74D41DFEA920890',
        'C12140A0FFB4E56481B4FE0A7A25040C2EAFA9CA',
        'BBE0C2E8D1839EFE6E48F831E936872F821292E7',
        'AC9231DA4082430AFE8F4D40127814C613648D8E',
    ]),
    # the whole string must parse
    ('toInt32OrZero', 'n', 'toInt32OrZero(x)', [
        0, 0, 42, -1, 0, 0, 0, 0,
    ]),
    ('toUInt8OrZero', 'n', 'toUInt8OrZero(x)', [
        0, 0, 42, -1, 0, 0, 0, 0,
    ]),
    # exact at the Int64 edge
    ('intDiv', 'i', 'intDiv(x, 2)', [
        None, 0, 0, 0, -3, 2, 127, 2147483647, 2147483648, 1616117888, -1073741824,
        4611686018427387903,
    ]),
    ('intDivOrZero', 'i', 'intDivOrZero(x, 3)', [
        None, 0, 0, 0, -2, 1, 85, 1431655765, 1431655765, 1077411925, -715827882,
        3074457345618258602,
    ]),
    # the argument wraps to UInt32 first
    ('IPv4NumToString', 'i', 'IPv4NumToString(x)', [
        None, '0.0.0.0', '0.0.0.1', '255.255.255.255', '255.255.255.249', '0.0.0.5',
        '0.0.0.255', '255.255.255.255', '0.0.0.0', '192.168.1.1', '128.0.0.0',
        '255.255.255.255',
    ]),
    ('IPv4NumToStringClassC', 'i', 'IPv4NumToStringClassC(x)', [
        None, '0.0.0.xxx', '0.0.0.xxx', '255.255.255.xxx', '255.255.255.xxx',
        '0.0.0.xxx', '0.0.0.xxx', '255.255.255.xxx', '0.0.0.xxx', '192.168.1.xxx',
        '128.0.0.xxx', '255.255.255.xxx',
    ]),
    # whole bytes, two's complement for negatives
    ('hex', 'i', 'hex(x)', [
        None, '00', '01', 'FFFFFFFFFFFFFFFF', 'FFFFFFFFFFFFFFF9', '05', 'FF',
        'FFFFFFFF', '0100000000', 'C0A80101', 'FFFFFFFF80000000', '7FFFFFFFFFFFFFFF',
    ]),
    ('bitmaskToArray', 'i', 'bitmaskToArray(x)', [
        None, [], [1], _bits(range(64)), _bits([0] + list(range(3, 64))),
        [1, 4], _bits(range(8)), _bits(range(32)), [4294967296],
        [1, 256, 524288, 2097152, 8388608, 1073741824, 2147483648],
        _bits(range(31, 64)), _bits(range(63)),
    ]),
    # x clamps to [min, max] (UnicodeBar::getWidth)
    ('bar', 'i', 'bar(x, 0, 100, 10)', [
        '', '', '', '', '', '', '██████████', '██████████', '██████████', '██████████',
        '', '██████████',
    ]),
    ('formatReadableSize', 'i', 'formatReadableSize(x)', [
        None, '0.00 B', '1.00 B', '-1.00 B', '-7.00 B', '5.00 B', '255.00 B',
        '4.00 GiB', '4.00 GiB', '3.01 GiB', '-2.00 GiB', '8.00 EiB',
    ]),
    ('caseWithExpr', 'i', "caseWithExpr(x, 1, 'one', 255, 'byte', 'other')", [
        'other', 'other', 'one', 'other', 'other', 'other', 'byte', 'other', 'other',
        'other', 'other', 'other',
    ]),
    # overflow → inf; NaN stays NaN
    ('exp', 'f', 'exp(x)', [
        None, 1.0, 0.36787944117144233, 148.4131591025766, 2.6881171418161356e+43,
        math.inf, 'nan',
    ]),
    # log(0) = -inf, log(<0) = nan
    ('log', 'f', 'log(x)', [
        None, -math.inf, 'nan', 1.6094379124341003, 4.605170185988092,
        690.7755278982137, 'nan',
    ]),
    # NULLs last
    ('arraySort', 'a', 'arraySort(x)', [
        None, [], [1], [1, 2, 3], [1, None], [-1, 0, 1],
    ]),
    ('arrayReverseSort', 'a', 'arrayReverseSort(x)', [
        None, [], [1], [3, 2, 1], [1, None], [1, 0, -1],
    ]),
    ('arraySlice_2arg', 'a', 'arraySlice(x, -2)', [
        None, [], [], [1, 2], [None, 1], [0, 1],
    ]),
    ('has', 'a', 'has(x, 2)', [
        None, 0, 0, 1, 0, 0,
    ]),
    ('indexOf_NULL', 'a', 'indexOf(x, NULL)', [
        0, 0, 0, 0, 1, 0,
    ]),
    ('visitParamExtractString', 'j', "visitParamExtractString(x, 's')", [
        None, '', 'hi', '', '',
    ]),
    ('visitParamExtractRaw', 'j', "visitParamExtractRaw(x, 'k')", [
        None, '', '69', 'x', '',
    ]),
    ('visitParamExtractUInt', 'j', "visitParamExtractUInt(x, 'k')", [
        None, 0, 69, 0, 0,
    ]),
    ('visitParamHas', 'j', "visitParamHas(x, 'k')", [
        None, 0, 1, 1, 0,
    ]),
    # two's complement for the signed form
    ('reinterpretAsInt64', 's', 'reinterpretAsInt64(x)', [
        0, 0, 6513249, 122511470216040, -6131461102780442650, 109041374342241, 9,
    ]),
    ('IPv4StringToNum', 'p', 'IPv4StringToNum(x)', [
        None, 0, 3232235777, 0, 4294967295, 0, 0,
    ]),
]

# (label, grouped query yielding column r ordered by g, pinned results)
GROUP_SRC = "fn_edge_g"
GROUP_CASES = [
    # NULL rows skipped
    ('groupArray',
     'SELECT g, arraySort(groupArray(x)) AS r FROM fn_edge_g GROUP BY g ORDER BY g',
     [[10.0, 20.0, 30.0], [5.0, 5.0], []]),
    # nth element, no interpolation
    ('quantileExact_0.9',
     'SELECT g, quantileExact(0.9)(x) AS r FROM fn_edge_g GROUP BY g ORDER BY g',
     [30.0, 5.0, None]),
    # a group without values → inf (AggregateFunctionsStatistics)
    ('varSamp',
     'SELECT g, varSamp(x) AS r FROM fn_edge_g GROUP BY g ORDER BY g',
     [100.0, 0.0, math.inf]),
    ('sumArray',
     'SELECT g, sumArray(arr) AS r FROM fn_edge_g GROUP BY g ORDER BY g',
     [68.0, 5.0, 0.0]),
    ('countArray',
     'SELECT g, countArray(arr) AS r FROM fn_edge_g GROUP BY g ORDER BY g',
     [6, 1, 0]),
    # rows with a NULL argument are skipped
    ('argMaxState_Merge',
     'SELECT g, argMaxMerge(st) AS r FROM (SELECT g, p, argMaxState(s, x) AS st '
     'FROM fn_edge_g GROUP BY g, p) GROUP BY g ORDER BY g',
     ['b', 'c', None]),
    ('quantileExactState_Merge',
     'SELECT g, quantileExactMerge(0.5)(st) AS r FROM (SELECT g, p, '
     'quantileExactState(x) AS st FROM fn_edge_g GROUP BY g, p) GROUP BY g ORDER '
     'BY g',
     [20.0, 5.0, None]),
    ('sequenceCountState_Merge',
     "SELECT g, sequenceCountMerge('(?1).*(?2)')(st) AS r FROM (SELECT g, p, "
     "sequenceCountState('(?1).*(?2)')(t, s = 'a', s = 'b') AS st FROM fn_edge_g "
     'GROUP BY g, p) GROUP BY g ORDER BY g',
     [1, 0, 0]),
    # merging no values → nan
    ('avgState_Merge',
     'SELECT g, avgMerge(st) AS r FROM (SELECT g, p, avgState(x) AS st FROM '
     'fn_edge_g GROUP BY g, p) GROUP BY g ORDER BY g',
     [20.0, 5.0, 'nan']),
]


def _register(spark) -> None:
    for v, (typ, vals) in EDGES.items():
        spark.createDataFrame(
            list(enumerate(vals)), f"k INT, x {typ}"
        ).createOrReplaceTempView(VIEW[v])
    t = datetime.datetime
    spark.createDataFrame(
        [
            (1, 1, 10.0, "a", t(2024, 1, 1, 0, 0, 1), [1.0, 2.0]),
            (1, 1, 20.0, "b", t(2024, 1, 1, 0, 0, 2), [10.0, 20.0, 30.0]),
            (1, 2, None, "b", t(2024, 1, 1, 0, 0, 3), []),
            (1, 2, 30.0, None, t(2024, 1, 1, 0, 0, 4), [5.0]),
            (2, 1, 5.0, "c", t(2024, 1, 2, 0, 0, 1), [5.0]),
            (2, 2, 5.0, "a", t(2024, 1, 2, 0, 0, 2), None),
            (3, 1, None, None, None, None),
        ],
        "g INT, p INT, x DOUBLE, s STRING, t TIMESTAMP, arr ARRAY<DOUBLE>",
    ).createOrReplaceTempView(GROUP_SRC)


def _canon(v):
    """Comparable form: NaN as a tag, decimals and bools as numbers,
    bytes as hex, dates as text, rows and lists element-wise."""
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex().upper()
    if isinstance(v, (datetime.date, datetime.datetime)):
        return str(v)
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


@pytest.fixture(scope="module")
def edge_eng(spark):
    _register(spark)
    return ChEngine(spark)


@pytest.mark.parametrize(
    "view,expr,want",
    [c[1:] for c in SCALAR_CASES],
    ids=[c[0] for c in SCALAR_CASES],
)
def test_scalar_edges(edge_eng, view, expr, want):
    rows = edge_eng.sql(
        f"SELECT k, {expr} AS r FROM {VIEW[view]} ORDER BY k"
    ).collect()
    got = [_canon(r["r"]) for r in rows]
    assert got == want, list(zip(EDGES[view][1], got, want))


@pytest.mark.parametrize(
    "sql,want", [c[1:] for c in GROUP_CASES], ids=[c[0] for c in GROUP_CASES]
)
def test_group_edges(edge_eng, sql, want):
    got = [_canon(r["r"]) for r in edge_eng.sql(sql).collect()]
    assert got == want
