"""Factory-coverage lock: every name the reference's
AggregateFunctionFactory registers (AggregateFunctions/*.cpp
registerFunction calls) must execute through the dialect engine.

Deterministic aggregates assert exact values; estimator families
assert execution + plausibility (their exact outputs are pinned by
the golden corpus / kernel unit tests elsewhere)."""

from __future__ import annotations

import pytest

SRC = "(SELECT number FROM system.numbers LIMIT 100)"

# name -> (call over `number` 0..99, expected value or None for
# execution-only). Two-arg forms use (number, number % 10).
EXACT = {
    "count": ("count(number)", 100),
    "min": ("min(number)", 0),
    "max": ("max(number)", 99),
    "sum": ("sum(number)", 4950),
    "avg": ("avg(number)", 49.5),
    "any": ("any(number)", 0),
    "anyLast": ("anyLast(number)", 99),
    "anyHeavy": ("anyHeavy(number % 3)", None),
    "argMin": ("argMin(number, number % 10)", None),
    "argMax": ("argMax(number, number % 10)", None),
    "groupArray": ("length(toString(groupArray(number)))", None),
    "groupUniqArray": ("arraySort(groupUniqArray(number % 5))", None),
    "uniq": ("uniq(number)", 100),
    "uniqExact": ("uniqExact(number % 7)", 7),
    # 98, not 100: past its 16-element small set uniqHLL12 estimates
    # through the 4096-bucket HLL, and the REFERENCE answers 98 here —
    # the emulation is byte-locked by the golden corpus
    "uniqHLL12": ("uniqHLL12(number)", 98),
    "uniqCombined": ("uniqCombined(number)", 100),
    "uniqCombinedRaw": ("uniqCombinedRaw(number)", 100),
    "uniqCombinedLinearCounting": (
        "uniqCombinedLinearCounting(number)", 100),
    "uniqCombinedBiasCorrected": (
        "uniqCombinedBiasCorrected(number)", 100),
    "uniqUpTo": ("uniqUpTo(5)(number)", 6),  # >5 distinct -> 5+1
    "median": ("median(number)", None),
    "medianExact": ("medianExact(number)", None),
    "medianExactWeighted": ("medianExactWeighted(number, 1)", None),
    "medianTiming": ("medianTiming(number)", None),
    "medianTimingWeighted": ("medianTimingWeighted(number, 1)", None),
    "medianTDigest": ("medianTDigest(number)", None),
    "medianTDigestWeighted": ("medianTDigestWeighted(number, 1)", None),
    "medianDeterministic": ("medianDeterministic(number, number)", None),
    "quantile": ("quantile(number)", None),
    "quantileExact": ("quantileExact(number)", None),
    "quantileExactWeighted": ("quantileExactWeighted(0.5)(number, 1)", None),
    "quantileTiming": ("quantileTiming(0.5)(number)", None),
    "quantileTimingWeighted": (
        "quantileTimingWeighted(0.5)(number, 1)", None),
    "quantileTDigest": ("quantileTDigest(0.5)(number)", None),
    "quantileTDigestWeighted": (
        "quantileTDigestWeighted(0.5)(number, 1)", None),
    "quantileDeterministic": (
        "quantileDeterministic(0.5)(number, number)", None),
    "quantiles": ("quantiles(0.5, 0.9)(number)", None),
    "quantilesExact": ("quantilesExact(0.5, 0.9)(number)", None),
    "quantilesExactWeighted": (
        "quantilesExactWeighted(0.5, 0.9)(number, 1)", None),
    "quantilesTiming": ("quantilesTiming(0.5, 0.9)(number)", None),
    "quantilesTimingWeighted": (
        "quantilesTimingWeighted(0.5, 0.9)(number, 1)", None),
    "quantilesTDigest": ("quantilesTDigest(0.5, 0.9)(number)", None),
    "quantilesTDigestWeighted": (
        "quantilesTDigestWeighted(0.5, 0.9)(number, 1)", None),
    "quantilesDeterministic": (
        "quantilesDeterministic(0.5, 0.9)(number, number)", None),
    "varSamp": ("round(varSamp(number), 4)", None),
    "varPop": ("round(varPop(number), 4)", None),
    "stddevSamp": ("round(stddevSamp(number), 4)", None),
    "stddevPop": ("round(stddevPop(number), 4)", None),
    "VAR_SAMP": ("round(VAR_SAMP(number), 4)", None),
    "VAR_POP": ("round(VAR_POP(number), 4)", None),
    "STDDEV_SAMP": ("round(STDDEV_SAMP(number), 4)", None),
    "STDDEV_POP": ("round(STDDEV_POP(number), 4)", None),
    "covarSamp": ("round(covarSamp(number, number % 10), 4)", None),
    "covarPop": ("round(covarPop(number, number % 10), 4)", None),
    "COVAR_SAMP": ("round(COVAR_SAMP(number, number % 10), 4)", None),
    "COVAR_POP": ("round(COVAR_POP(number, number % 10), 4)", None),
    "corr": ("round(corr(number, number), 4)", 1.0),
    "sequenceMatch": (
        "sequenceMatch('(?1)(?2)')(toDateTime(number), "
        "number % 2 = 0, number % 2 = 1)", 1),
    "sequenceCount": (
        "sequenceCount('(?1)(?2)')(toDateTime(number), "
        "number % 2 = 0, number % 2 = 1)", None),
}


@pytest.fixture(scope="module")
def feng(spark):
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect import (
        ChEngine,
    )

    return ChEngine(spark)


@pytest.mark.parametrize("name", sorted(EXACT))
def test_aggregate_factory_name(feng, name):
    call, expected = EXACT[name]
    row = feng.execute(f"SELECT {call} AS v FROM {SRC}").first()
    assert row is not None
    if expected is not None:
        got = row["v"]
        if isinstance(expected, float):
            assert abs(float(got) - expected) < 1e-9, (name, got)
        else:
            assert int(got) == expected, (name, got)


# ---------------------------------------------- scalar factory (static)

#: registered names handled by the PARSER/translator dynamically, so
#: they never appear as quoted strings in the dialect sources; each is
#: exercised by goldens or tests/test_straggler_functions.py
DYNAMIC = {
    "in", "notIn", "globalIn", "globalNotIn",      # IN-operator forms
    "caseWithExpr", "caseWithoutExpr",             # CASE parse forms
    "dictGetString", "dictGetStringOrDefault",     # dictGet* prefix
    "IPv6NumToString", "IPv6StringToNum", "cutIPv6",  # SQL UDFs by name
}

#: reasoned skips (SURVEY §2.8): embedded Yandex dictionaries need
#: server config data files and throw in the reference too without
#: them; toColumnTypeName introspects column IMPLEMENTATION classes
SKIPPED = {
    "regionToCity", "regionToArea", "regionToDistrict",
    "regionToCountry", "regionToContinent", "regionToTopContinent",
    "regionToName", "regionToPopulation", "regionIn",
    "regionHierarchy", "OSToRoot", "OSIn", "OSHierarchy",
    "SEToRoot", "SEIn", "SEHierarchy",
    "toColumnTypeName",
}


def test_scalar_factory_names_covered():
    """Every name the reference's FunctionFactory registers (the
    `constexpr auto name` constants across Functions/*.{h,cpp}) is
    either present in our dialect/function sources, handled
    dynamically by the parser, or a documented skip."""
    import glob
    import os
    import re

    ref = "/root/reference/dbms/src/Functions"
    if not os.path.isdir(ref):
        import pytest as _pytest

        _pytest.skip("reference tree not available")
    names: set[str] = set()
    for p in glob.glob(f"{ref}/*.h") + glob.glob(f"{ref}/*.cpp"):
        with open(p, errors="ignore") as f:
            s = f.read()
        names |= set(re.findall(r'constexpr auto name = "(\w+)"', s))
        names |= set(
            re.findall(r'const char \* Name\w+::name = "(\w+)"', s)
        )
    assert len(names) > 250  # extraction sanity

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(
        here, "clickhouse_is_a_free_analytics_dbms_for_big_data__spark"
    )
    src = ""
    for p in glob.glob(os.path.join(pkg, "dialect", "*.py")) + glob.glob(
        os.path.join(pkg, "functions", "*.py")
    ):
        with open(p) as f:
            src += f.read()
    quoted = set(re.findall(r'"(\w+)"', src)) | set(
        re.findall(r"'(\w+)'", src)
    )
    uncovered = sorted(
        n for n in names
        if n not in quoted and n not in DYNAMIC and n not in SKIPPED
    )
    assert not uncovered, f"unmapped reference functions: {uncovered}"


def test_functions_package_has_no_dialect_twin():
    """One function library: the dialect emitters are the only
    implementation of each reference function name, so no module under
    functions/ may export a name that functions_map also emits
    (case-insensitive)."""
    import importlib
    import pkgutil

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark import (
        functions as pkg,
    )
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect.functions_map import (
        PARAMETRIC,
        SIMPLE,
        TEMPLATES,
    )

    emitted = {n.lower() for d in (SIMPLE, TEMPLATES, PARAMETRIC) for n in d}
    twins = []
    for info in pkgutil.iter_modules(pkg.__path__):
        mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
        names = getattr(mod, "__all__", None) or [
            n for n, v in vars(mod).items()
            if not n.startswith("_") and callable(v)
            and getattr(v, "__module__", None) == mod.__name__
        ]
        twins += [
            f"{info.name}.{n}" for n in names if n.lower().rstrip("_") in emitted
        ]
    assert not twins, f"functions/ re-implements dialect names: {twins}"
