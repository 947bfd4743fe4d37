"""Unit tests for the long-tail functions added after the main dialect
sweep (arrayEnumerateUniq, arrayReduce, reinterpret*, -ForEach, IPv6,
convertCharset), run as CH-SQL through ChEngine."""

from __future__ import annotations

import pytest

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect import (
    ChEngine,
)


@pytest.fixture(scope="module")
def seng(spark):
    return ChEngine(spark)


def _one(eng, expr: str, src: str = ""):
    return eng.sql(f"SELECT {expr} AS v {src}").collect()[0]["v"]


def test_enumerate_uniq(seng):
    got = _one(seng, "arrayEnumerateUniq([10, 20, 10, 30, 10, 20])")
    assert got == [1, 1, 2, 1, 3, 2]


def test_enumerate_uniq_empty(seng):
    assert _one(seng, "arrayEnumerateUniq(emptyArrayInt32())") == []


@pytest.mark.parametrize(
    "agg,expected",
    [
        ("sum", 10.0),
        ("min", 1),
        ("max", 4),
        ("avg", 2.5),
        ("count", 4),
        ("uniqExact", 4),
        ("any", 1),
        ("anyLast", 4),
        ("groupUniqArray", [1, 2, 3, 4]),
    ],
)
def test_array_reduce(seng, agg, expected):
    got = _one(seng, f"arrayReduce('{agg}', [1, 2, 3, 4])")
    if isinstance(expected, list):
        assert sorted(got) == expected
    else:
        assert got == expected


def test_array_reduce_median(seng):
    assert _one(seng, "arrayReduce('median', [5, 1, 9])") == 5


def test_array_reduce_unknown(seng):
    with pytest.raises(Exception):
        _one(seng, "arrayReduce('bogus', [1])")


def test_reinterpret_string(seng):
    # 0x3039 = 12345 → bytes 0x39 '9', 0x30 '0' little-endian
    assert _one(seng, "toString(reinterpretAsString(12345))") == "90"
    assert _one(seng, "toString(reinterpretAsString(65))") == "A"


def test_reinterpret_string_roundtrip(seng):
    for n in (1, 65, 12345, 0x7F41, 0x7F7F7F7F, 0xFFFF, 2**63 - 1):
        assert _one(seng, f"reinterpretAsUInt64(reinterpretAsString({n}))") == n, n


def test_reinterpret_uint32_multibyte(seng):
    # '€' = UTF-8 E2 82 AC: the first 4 BYTES (zero-padded) little-
    # endian = 0xAC82E2 — character-based extraction would see the
    # codepoint 8364 instead of the raw bytes
    assert _one(seng, "reinterpretAsUInt32('€')") == 0xAC82E2


def test_reinterpret_uint32_truncates(seng):
    # only the first 4 bytes participate
    assert _one(seng, "reinterpretAsUInt32('AAAAAA')") == 0x41414141


def test_reinterpret_dates(seng):
    got = _one(seng, "reinterpretAsDate(reinterpretAsString(toUInt16(1)))")
    assert str(got) == "1970-01-02"
    got = _one(seng, "reinterpretAsDateTime(reinterpretAsString(86400))")
    assert str(got).startswith("1970-01-02")


def test_reinterpret_string_no_nul(seng):
    # all 8 bytes nonzero (regression: array_position yields 0, not
    # NULL, when no NUL byte exists)
    got = _one(seng, f"toString(reinterpretAsString({0x4141414141414141}))")
    assert got == "AAAAAAAA"


def test_for_each_combinator(spark, seng):
    spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [10.0, 20.0, 30.0]), (2, [5.0])],
        "g INT, a ARRAY<DOUBLE>",
    ).createOrReplaceTempView("foreach_t")
    r = {
        row["g"]: row
        for row in seng.sql(
            "SELECT g, sumForEach(a) AS s, minForEach(a) AS mn, "
            "maxForEach(a) AS mx, avgForEach(a) AS av "
            "FROM foreach_t GROUP BY g"
        ).collect()
    }
    assert r[1]["s"] == [11.0, 22.0, 30.0]
    assert r[1]["mn"] == [1.0, 2.0, 30.0]
    assert r[1]["mx"] == [10.0, 20.0, 30.0]
    assert r[1]["av"] == [5.5, 11.0, 30.0]
    assert r[2]["s"] == [5.0]
    with pytest.raises(Exception):
        seng.sql("SELECT bogusForEach(a) FROM foreach_t").collect()


def test_quantile_weighted_and_deterministic(spark, seng):
    spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (3.0, 8)], "v DOUBLE, w INT"
    ).createOrReplaceTempView("qw_t")
    r = seng.sql(
        "SELECT quantileExactWeighted(0.5)(v, w) AS wq, "
        "quantileDeterministic(0.5)(v, w) AS dq FROM qw_t"
    ).first()
    assert r["wq"] == 3.0  # 3 carries 80% of the weight
    assert r["dq"] == 2.0


def test_ipv6_roundtrip_and_cut(seng):
    cases = {
        "2001:0db8:0000:0000:0000:0000:0000:0001": "2001:db8::1",
        "::1": "::1",
        "::": "::",
        "2001:db8::8:800:200c:417a": "2001:db8::8:800:200c:417a",
        "::ffff:192.168.0.1": "::ffff:192.168.0.1",
        "fe80::": "fe80::",
        "1:0:0:2:0:0:3:4": "1::2:0:0:3:4",  # leftmost-longest run wins
        "1:2:3:4:5:6:7:8": "1:2:3:4:5:6:7:8",
    }
    src = "FROM (SELECT arrayJoin([{}]) AS s)".format(
        ", ".join(f"'{s}'" for s in cases)
    )
    got = {
        r["s"]: (r["rt"], r["c"])
        for r in seng.sql(
            "SELECT s, IPv6NumToString(IPv6StringToNum(s)) AS rt, "
            f"cutIPv6(IPv6StringToNum(s), 2, 1) AS c {src}"
        ).collect()
    }
    assert {s: rt for s, (rt, _) in got.items()} == cases
    assert got["1:2:3:4:5:6:7:8"][1] == "1:2:3:4:5:6:7:0"
    assert got["::ffff:192.168.0.1"][1] == "::ffff:192.168.0.0"


def test_row_number_in_block_and_shard_by_hash(spark):
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.operators.running import (
        row_number_in_block,
    )
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.engines import (
        shard_by_hash,
    )

    df = spark.range(100).repartition(4)
    out = row_number_in_block(df)
    rows = out.collect()
    # each partition restarts at 0 and increments densely
    from collections import Counter

    counts = Counter(r["row_number_in_block"] for r in rows)
    assert counts[0] == 4  # 4 partitions -> 4 zeros
    assert max(counts) >= 1

    spark.range(1000).withColumnRenamed("id", "k").createOrReplaceTempView(
        "shard_t"
    )
    a = shard_by_hash(spark, "shard_t", "userA", 4, "k")
    b = shard_by_hash(spark, "shard_t", "userA", 4, "k")
    assert a.count() == b.count() and 0 < a.count() < 1000


def test_convert_charset(seng):
    # the ICU-parity UDF is registered by ChEngine init
    b = _one(seng, "convertCharset('héllo', 'utf-8', 'iso-8859-1')")
    assert bytes(b) == "héllo".encode("iso-8859-1")
    b = _one(seng, "convertCharset('héllo', 'utf-8', 'utf-16be')")
    assert bytes(b).decode("utf-16-be") == "héllo"
    # koi8-r routes to the ICU-parity UDF path (functions/charset.py);
    # ASCII is identity in koi8-r
    assert bytes(_one(seng, "convertCharset('privet', 'utf-8', 'koi8-r')")) == b"privet"
    with pytest.raises(Exception):
        _one(seng, "convertCharset('privet', 'utf-8', 'no-such-charset')")


# ------------------------------------------------- r8 straggler sweep
# Functions registered by the reference's FunctionFactory but absent
# from the golden corpus — verified against reference-derived vectors
# (SipHash.h compiled directly for the sipHash128 values; FIPS 180-2
# digests for SHA2; FunctionsURL.h/FunctionsFormatting.h semantics).


def _tsv(eng, q: str) -> str:
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.formats import (
        format_result,
    )

    df = eng.execute(q)
    return format_result(
        df, "TabSeparated", ch_types=getattr(eng, "last_out_ch_types", None)
    ).strip()


@pytest.mark.parametrize(
    "q,expected",
    [
        ("SELECT hex(SHA224('abc'))",
         "23097D223405D8228642A477BDA255B32AADBCE4BDA0B3F7E36C9DA7"),
        ("SELECT hex(SHA256('abc'))",
         "BA7816BF8F01CFEA414140DE5DAE2223B00361A396177A9CB410FF61F20015AD"),
        # SipHash.h get128 compiled from the reference (zero key):
        # LE(v0^v1) || LE(v2^v3)
        ("SELECT hex(sipHash128('abc'))",
         "B6B415A2DA966B6C685A65E54C12A353"),
        ("SELECT hex(sipHash128(''))", "32B5C1DB56A683E9E5B5B6A8CBED11F7"),
        ("SELECT bitmaskToList(50)", "2,16,32"),
        ("SELECT bitmaskToList(0)", ""),
        ("SELECT bitmaskToList(1)", "1"),
        ("SELECT queryStringAndFragment('http://a.com/x?q=1#f')", "q=1#f"),
        ("SELECT queryStringAndFragment('http://a.com/x#f')", "#f"),
        ("SELECT queryStringAndFragment('http://a.com/x')", ""),
        ("SELECT cutQueryStringAndFragment('http://a.com/x?q=1#f')",
         "http://a.com/x"),
        ("SELECT cutQueryStringAndFragment('http://a.com/x#f')",
         "http://a.com/x"),
        # URLPathHierarchy: growing prefixes per segment incl. trailing
        # separator; '?' and '#' are separators like '/'
        ("SELECT URLPathHierarchy('http://a.com/x/y?z=1')",
         "['/x/','/x/y?','/x/y?z=1']"),
        ("SELECT URLPathHierarchy('http://a.com/')", "[]"),
        ("SELECT URLPathHierarchy('nohost')", "[]"),
        ("SELECT URLPathHierarchy('http://a.com')", "[]"),
        # timeSlots: half-hour slot starts covering [t, t+d]
        ("SELECT timeSlots(toDateTime('2012-01-01 12:20:00'), toUInt32(600))",
         "['2012-01-01 12:00:00','2012-01-01 12:30:00']"),
        ("SELECT timezone()", "UTC"),
        ("SELECT sleep(0)", "0"),
        ("SELECT reinterpretAsDate(reinterpretAsString(toUInt16(1)))",
         "1970-01-02"),
        ("SELECT reinterpretAsDateTime(reinterpretAsString(toUInt32(3600)))",
         "1970-01-01 01:00:00"),
        # float32 decode from an explicit LE byte literal (0x3FC00000)
        ("SELECT reinterpretAsFloat32(unhex('0000C03F'))", "1.5"),
        ("SELECT reinterpretAsFloat32(unhex('0000807F'))", "inf"),
        # multibyte input: reinterpret reads raw UTF-8 BYTES, not
        # characters — '€' is E2 82 AC, so UInt16 takes E2 82 (LE
        # 0x82E2) and UInt32 zero-pads the 3 bytes (LE 0xAC82E2)
        ("SELECT reinterpretAsUInt16('€')", "33506"),
        ("SELECT reinterpretAsUInt32('€')", "11305698"),
    ],
)
def test_straggler_function_vectors(seng, q, expected):
    assert _tsv(seng, q) == expected
