"""Seeded input generators.

Every input the program sees is made here from the run's seed; the
same seed writes byte-identical parquet files.  Distributions are
skewed the way web-analytics and event data are (a hot counter, a few
heavy users, mostly-empty search phrases), so hot-key GROUP BYs,
LIKE scans and dedup operators have real work to do.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HITS_ROWS = 100_000
REGIONS = 200
# regions the dimension table knows; hits also reference the rest, so
# ANY LEFT JOIN has unmatched rows that take type defaults
REGIONS_IN_DIM = 180
COUNTRIES = ("RU", "DE", "US", "FR", "TR", "BY", "KZ", "UA", "GB", "NL")
HOT_COUNTER = 34

EVENT_ROWS = 50_000
EVENT_USERS = 1_500
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
DOC_ROWS = 2_500

_WORDS = (
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "join", "customer", "the", "a",
)
_SITES = ("example.com", "yandex.ru", "metrika.yandex.ru", "news.example.org",
          "shop.example.net", "mail.example.com", "video.example.tv")
_PHRASE_WORDS = (
    "weather", "news", "cars", "buy", "cheap", "flights", "moscow", "music",
    "video", "games", "recipes", "football", "maps", "translate", "metrika",
    "photo", "hotel", "train", "bank", "jobs",
)
_RESOLUTIONS = np.array([1024, 1280, 1366, 1440, 1536, 1600, 1920, 2560])


def _zipf_index(rng: np.random.Generator, n: int, size: int, a: float) -> np.ndarray:
    """Indices in [0, n) with a Zipf-like skew of exponent ``a``."""
    w = 1.0 / np.arange(1, n + 1) ** a
    return rng.choice(n, size=size, p=w / w.sum())


def _write(table: pa.Table, path: str) -> str:
    # fixed writer options: the same table always gives the same bytes
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return path


# ------------------------------------------------------------ hits

def hits_table(seed: int, rows: int = HITS_ROWS) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    start = np.datetime64("2024-03-01T00:00:00")
    secs = np.sort(rng.integers(0, 28 * 86400, rows))
    event_time = start + secs.astype("timedelta64[s]")
    counter = (_zipf_index(rng, 1000, rows, 1.1) + 1).astype(np.int32)
    counter[rng.random(rows) < 0.10] = HOT_COUNTER
    users = _zipf_index(rng, 4000, rows, 0.9)
    user_id = (users.astype(np.int64) * 7_919 + 1_000_003)
    region = (_zipf_index(rng, REGIONS, rows, 0.8) + 1).astype(np.int32)
    site = _zipf_index(rng, len(_SITES), rows, 1.0)
    page = _zipf_index(rng, 400, rows, 1.0)
    url = [f"http://{_SITES[s]}/page/{p}" for s, p in zip(site, page)]
    ref_site = rng.integers(0, len(_SITES), rows)
    has_ref = rng.random(rows) >= 0.15
    referer = [
        f"http://{_SITES[s]}/from/{u % 97}" if h else ""
        for s, u, h in zip(ref_site, users, has_ref)
    ]
    title_w = rng.integers(0, len(_WORDS), (rows, 2))
    title = [f"{_WORDS[a]} {_WORDS[b]}" for a, b in title_w]
    phrase_w = _zipf_index(rng, len(_PHRASE_WORDS), rows * 2, 1.0).reshape(rows, 2)
    has_phrase = rng.random(rows) < 0.20
    phrase = [
        f"{_PHRASE_WORDS[a]} {_PHRASE_WORDS[b]}" if h else ""
        for (a, b), h in zip(phrase_w, has_phrase)
    ]
    adv = np.where(rng.random(rows) < 0.05, rng.integers(1, 30, rows), 0)
    goals_len = rng.integers(0, 5, rows)
    goal_vals = rng.integers(1, 40, int(goals_len.sum()))
    offsets = np.concatenate([[0], np.cumsum(goals_len)]).astype(np.int32)
    return pa.table({
        "WatchID": pa.array(rng.permutation(rows).astype(np.int64) * 7_919 + 17),
        "EventTime": pa.array(event_time.astype("datetime64[us]"),
                              pa.timestamp("us", tz="UTC")),
        "EventDate": pa.array(event_time.astype("datetime64[D]"), pa.date32()),
        "CounterID": pa.array(counter),
        "UserID": pa.array(user_id),
        "RegionID": pa.array(region),
        "URL": pa.array(url),
        "Referer": pa.array(referer),
        "Title": pa.array(title),
        "SearchPhrase": pa.array(phrase),
        "AdvEngineID": pa.array(adv.astype(np.int16)),
        "ResolutionWidth": pa.array(rng.choice(_RESOLUTIONS, rows).astype(np.int16)),
        "IsRefresh": pa.array((rng.random(rows) < 0.1).astype(np.int8)),
        "TraficSourceID": pa.array(rng.integers(-1, 11, rows).astype(np.int8)),
        "SearchEngineID": pa.array(
            np.where(rng.random(rows) < 0.7, 0, rng.integers(1, 30, rows)).astype(np.int16)
        ),
        "ClientIP": pa.array(rng.integers(0, 1 << 32, rows, dtype=np.int64)),
        "Goals": pa.ListArray.from_arrays(pa.array(offsets), pa.array(goal_vals.astype(np.int32))),
    })


def regions_table(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    ids = np.arange(1, REGIONS_IN_DIM + 1, dtype=np.int32)
    country = rng.integers(0, len(COUNTRIES), len(ids))
    return pa.table({
        "RegionID": pa.array(ids),
        "RegionName": pa.array([f"region_{i}" for i in ids]),
        "Country": pa.array([COUNTRIES[c] for c in country]),
    })


def write_sql_inputs(seed: int, out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    return {
        "hits": _write(hits_table(seed), os.path.join(out_dir, "hits.parquet")),
        "regions": _write(regions_table(seed), os.path.join(out_dir, "regions.parquet")),
    }


# ------------------------------------------------ events / documents

def events_table(seed: int, rows: int = EVENT_ROWS) -> pa.Table:
    """The registry's ``events`` schema, with seed-chosen id
    offsets and a seed-shuffled row order."""
    rng = np.random.default_rng([seed, 3])
    id_off = int(rng.integers(0, 1_000)) * 1_000_000
    user_off = int(rng.integers(0, 1_000)) * 10_000
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + np.sort(rng.integers(0, 30 * 86400 * 10**6, rows)).astype("timedelta64[us]")
    order = rng.permutation(rows)
    etype = rng.integers(0, len(EVENT_TYPES), rows)
    return pa.table({
        "event_id": pa.array((np.arange(rows) + id_off)[order].astype(np.int64)),
        "ts": pa.array(ts[order], pa.timestamp("us")),
        "user_id": pa.array((rng.integers(0, EVENT_USERS, rows) + user_off)[order]),
        "event_type": pa.array([EVENT_TYPES[e] for e in etype]),
        "value": pa.array(np.round(rng.random(rows) * 560.0, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })


def documents_table(seed: int, rows: int = DOC_ROWS) -> pa.Table:
    """The registry's ``documents`` schema.  About a tenth of the
    documents are exact copies and a tenth near-copies (one word
    changed) of earlier ones, so the dedup operators find clusters."""
    rng = np.random.default_rng([seed, 4])
    texts: list[str] = []
    for i in range(rows):
        r = rng.random()
        if i > 10 and r < 0.10:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.20:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 70))
            texts.append(" ".join(_WORDS[w] for w in _zipf_index(rng, len(_WORDS), n, 0.6)))
    langs = np.array(["en", "zh", "de", "fr", "es"])
    lang = langs[rng.choice(5, rows, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": pa.array(np.arange(rows, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(rows)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_batch_inputs(seed: int, out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    return {
        "events": _write(events_table(seed), os.path.join(out_dir, "events.parquet")),
        "documents": _write(documents_table(seed), os.path.join(out_dir, "documents.parquet")),
    }
