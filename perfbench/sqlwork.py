"""``sql_interactive``: CH-dialect SELECTs over a seeded ``hits`` table.

Each statement template has a DuckDB twin that computes the expected
result from the same parquet files.  The stream is built in rounds:
every round runs each template once, in a seed-shuffled order.
"""

from __future__ import annotations

import os

import numpy as np

from gen import COUNTRIES, HOT_COUNTER

# distinct texts are checked once each, so the pre-built stream is kept
# short; the runner cycles through it again if a run outlasts it
ROUNDS = 8
SAMPLE_SPACE = 4294967296


def _day(rng) -> str:
    return f"2024-03-{int(rng.integers(1, 29)):02d}"


def _counter(rng) -> int:
    return HOT_COUNTER if rng.random() < 0.3 else int(rng.integers(1, 21))


# Each template: name -> (format, literal drawer, CH text, DuckDB twin).
# The twin must return the rows the CH statement prints, in print order.
TEMPLATES: dict[str, tuple] = {
    "count_filter": (
        "TabSeparated",
        lambda r: {"d": _day(r)},
        "SELECT count() FROM hits WHERE AdvEngineID != 0 AND EventDate >= '{d}'",
        "SELECT count(*) FROM hits WHERE AdvEngineID != 0 AND EventDate >= DATE '{d}'",
    ),
    "phrase_top": (
        "TabSeparated",
        lambda r: dict(zip(("d1", "d2"), sorted((_day(r), _day(r))))),
        "SELECT SearchPhrase, count() AS c FROM hits WHERE SearchPhrase != '' "
        "AND EventDate >= '{d1}' AND EventDate <= '{d2}' "
        "GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10",
        "SELECT SearchPhrase, count(*) AS c FROM hits WHERE SearchPhrase != '' "
        "AND EventDate >= DATE '{d1}' AND EventDate <= DATE '{d2}' "
        "GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10",
    ),
    "region_engine": (
        "PrettyCompact",
        lambda r: {"d": _day(r)},
        "SELECT RegionID, SearchEngineID, count() AS c, uniqExact(UserID) AS u FROM hits "
        "WHERE SearchEngineID != 0 AND EventDate >= '{d}' GROUP BY RegionID, SearchEngineID "
        "ORDER BY c DESC, RegionID, SearchEngineID LIMIT 10 FORMAT PrettyCompact",
        "SELECT RegionID, SearchEngineID, count(*) AS c, count(DISTINCT UserID) FROM hits "
        "WHERE SearchEngineID != 0 AND EventDate >= DATE '{d}' GROUP BY RegionID, SearchEngineID "
        "ORDER BY c DESC, RegionID, SearchEngineID LIMIT 10",
    ),
    "three_key": (
        "TabSeparated",
        lambda r: {"w": int(r.choice([1024, 1366, 1536, 1920]))},
        "SELECT CounterID, RegionID, TraficSourceID, count() AS c, sum(IsRefresh) AS rf "
        "FROM hits WHERE ResolutionWidth >= {w} GROUP BY CounterID, RegionID, TraficSourceID "
        "ORDER BY c DESC, CounterID, RegionID, TraficSourceID LIMIT 20",
        "SELECT CounterID, RegionID, TraficSourceID, count(*) AS c, sum(IsRefresh) "
        "FROM hits WHERE ResolutionWidth >= {w} GROUP BY CounterID, RegionID, TraficSourceID "
        "ORDER BY c DESC, CounterID, RegionID, TraficSourceID LIMIT 20",
    ),
    "url_like": (
        "TabSeparated",
        lambda r: {"p": f"/page/{int(r.integers(1, 60))}"},
        "SELECT count() FROM hits WHERE URL LIKE '%{p}%'",
        "SELECT count(*) FROM hits WHERE URL LIKE '%{p}%'",
    ),
    "like_phrase": (
        "TabSeparated",
        lambda r: {"r": int(r.integers(20, 200))},
        "SELECT SearchPhrase, min(URL) AS u, count() AS c FROM hits "
        "WHERE URL LIKE '%metrika%' AND SearchPhrase != '' AND RegionID <= {r} "
        "GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10",
        "SELECT SearchPhrase, min(URL), count(*) AS c FROM hits "
        "WHERE URL LIKE '%metrika%' AND SearchPhrase != '' AND RegionID <= {r} "
        "GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10",
    ),
    "uniq_quantile": (
        "JSON",
        lambda r: {"r": int(r.integers(4, 12))},
        "SELECT RegionID, uniq(UserID) AS u, quantile(0.5)(ResolutionWidth) AS q "
        "FROM hits WHERE RegionID <= {r} GROUP BY RegionID ORDER BY RegionID FORMAT JSON",
        # exact twins plus the rank-error band the approximate quantile
        # must land in
        "SELECT RegionID, count(DISTINCT UserID), "
        "quantile_cont(ResolutionWidth, 0.45), quantile_cont(ResolutionWidth, 0.55) "
        "FROM hits WHERE RegionID <= {r} GROUP BY RegionID ORDER BY RegionID",
    ),
    "limit_by": (
        "TabSeparated",
        lambda r: {"c1": HOT_COUNTER, "c2": int(r.integers(1, 8)), "c3": int(r.integers(8, 30))},
        "SELECT CounterID, URL, count() AS c FROM hits WHERE CounterID IN ({c1}, {c2}, {c3}) "
        "GROUP BY CounterID, URL ORDER BY CounterID, c DESC, URL LIMIT 3 BY CounterID",
        "SELECT CounterID, URL, c FROM (SELECT CounterID, URL, count(*) AS c, "
        "row_number() OVER (PARTITION BY CounterID ORDER BY count(*) DESC, URL) AS rn "
        "FROM hits WHERE CounterID IN ({c1}, {c2}, {c3}) GROUP BY CounterID, URL) "
        "WHERE rn <= 3 ORDER BY CounterID, c DESC, URL",
    ),
    "totals": (
        "TabSeparated",
        lambda r: {"r": int(r.integers(5, 150))},
        "SELECT TraficSourceID, count() AS c, sum(IsRefresh) AS rf FROM hits "
        "WHERE RegionID <= {r} GROUP BY TraficSourceID WITH TOTALS ORDER BY TraficSourceID",
        # grouped rows, then the totals row (key printed as its default)
        "SELECT * FROM (SELECT 0 AS t, TraficSourceID, count(*), sum(IsRefresh) FROM hits "
        "WHERE RegionID <= {r} GROUP BY TraficSourceID UNION ALL "
        "SELECT 1, 0, count(*), sum(IsRefresh) FROM hits WHERE RegionID <= {r}) "
        "ORDER BY t, TraficSourceID",
    ),
    "array_join": (
        "TabSeparated",
        lambda r: {"c": _counter(r)},
        "SELECT goal, count() AS c FROM hits ARRAY JOIN Goals AS goal WHERE CounterID = {c} "
        "GROUP BY goal ORDER BY c DESC, goal LIMIT 10",
        "SELECT goal, count(*) AS c FROM (SELECT unnest(Goals) AS goal FROM hits "
        "WHERE CounterID = {c}) GROUP BY goal ORDER BY c DESC, goal LIMIT 10",
    ),
    "any_join": (
        "TabSeparated",
        lambda r: {"d": _day(r)},
        "SELECT Country, count() AS c FROM hits ANY LEFT JOIN regions USING RegionID "
        "WHERE EventDate = '{d}' GROUP BY Country ORDER BY c DESC, Country",
        "SELECT coalesce(g.Country, '') AS Country, count(*) AS c FROM hits h "
        "LEFT JOIN regions g USING (RegionID) WHERE h.EventDate = DATE '{d}' "
        "GROUP BY 1 ORDER BY c DESC, Country",
    ),
    "in_subquery": (
        "TabSeparated",
        lambda r: {"k": COUNTRIES[int(r.integers(0, len(COUNTRIES)))]},
        "SELECT count() AS c, uniqExact(UserID) AS u FROM hits "
        "WHERE RegionID IN (SELECT RegionID FROM regions WHERE Country = '{k}')",
        "SELECT count(*), count(DISTINCT UserID) FROM hits "
        "WHERE RegionID IN (SELECT RegionID FROM regions WHERE Country = '{k}')",
    ),
    "sample": (
        "TabSeparated",
        lambda r: {"n": int(r.integers(2, 11)), "w": int(r.choice([1024, 1366, 1920]))},
        "SELECT count() AS c, sum(ResolutionWidth) AS s FROM hits SAMPLE 1/{n} "
        "WHERE ResolutionWidth >= {w}",
        # the engine's documented SAMPLE rule for an external table: a
        # Knuth-hash range cut on the sampling key (UserID)
        "SELECT count(*), sum(ResolutionWidth) FROM hits WHERE ResolutionWidth >= {w} "
        "AND ((UserID * 2654435761) % 4294967296) < {hi}",
    ),
    "big_result": (
        # every hot-counter hit (~10^4 rows, the same count for every
        # seed); the literals pick a column and the sort direction
        "TabSeparated",
        lambda r: {"c": str(r.choice(["ResolutionWidth", "RegionID", "TraficSourceID"])),
                   "o": str(r.choice(["ASC", "DESC"]))},
        f"SELECT WatchID, UserID, {{c}} FROM hits WHERE CounterID = {HOT_COUNTER} ORDER BY WatchID {{o}}",
        f"SELECT WatchID, UserID, {{c}} FROM hits WHERE CounterID = {HOT_COUNTER} ORDER BY WatchID {{o}}",
    ),
}


# Dashboard panels repeat one text (a refresh); the other templates are
# ad-hoc and draw fresh literals each time.  7 of 14, so half of the
# measured statements repeat an earlier text exactly.  The
# reservoir-quantile panel is one of them, so the warm-up also starts
# the Python workers its UDF needs.
DASHBOARD = ("any_join", "big_result", "count_filter", "phrase_top", "region_engine",
             "totals", "uniq_quantile")


def _render(tpl: str, lits: dict) -> tuple[str, str]:
    fmt, _draw, ch, duck = TEMPLATES[tpl]
    if tpl == "sample":
        lits = dict(lits, hi=int((1.0 / lits["n"]) * SAMPLE_SPACE))
    return ch.format(**lits), duck.format(**lits)


def build_stream(seed: int, rounds: int = ROUNDS) -> dict:
    """The warm-up (each dashboard text once), then ``rounds`` measured
    rounds: every template once per round in seed order, dashboard
    panels with their fixed text, ad-hoc templates with fresh
    literals."""
    rng = np.random.default_rng([seed, 10])
    names = sorted(TEMPLATES)
    dash = {t: TEMPLATES[t][1](rng) for t in DASHBOARD}
    stream = []
    for rnd in range(rounds):
        for i in rng.permutation(len(names)):
            t = names[int(i)]
            ch, duck = _render(t, dash[t] if t in DASHBOARD else TEMPLATES[t][1](rng))
            stream.append({"tpl": t, "sql": ch, "duck": duck, "round": rnd})
    warm = []
    for t in DASHBOARD:
        ch, duck = _render(t, dash[t])
        warm.append({"tpl": t, "sql": ch, "duck": duck, "round": -1})
    return {"warm": warm, "stream": stream}


def expected_results(plan: dict, files: dict[str, str]) -> dict[str, list]:
    """DuckDB twin result per distinct statement text."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET enable_progress_bar = false")
    con.execute(
        "CREATE VIEW hits AS SELECT * REPLACE (make_timestamp(epoch_us(EventTime)) "
        f"AS EventTime) FROM read_parquet('{files['hits']}')"
    )
    con.execute(f"CREATE VIEW regions AS SELECT * FROM read_parquet('{files['regions']}')")
    out: dict[str, list] = {}
    for op in plan["warm"] + plan["stream"]:
        if op["sql"] not in out:
            out[op["sql"]] = [list(r) for r in con.execute(op["duck"]).fetchall()]
    con.close()
    return out
