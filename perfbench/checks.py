"""Result checks: parse what the program printed and compare it with
the expected rows (DuckDB twins, the MergeTree model, the registry's
oracles)."""

from __future__ import annotations

import datetime
import decimal
import json
import math


def canon(v):
    """One comparable form for a cell read from text or from a
    database driver: numbers as int/float, dates and times as CH
    prints them, everything else as text."""
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    s = str(v)
    try:
        return int(s)
    except ValueError:
        pass
    try:
        f = float(s)
    except ValueError:
        return s
    return s if math.isinf(f) or math.isnan(f) else f


def same_cell(a, b) -> bool:
    a, b = canon(a), canon(b)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_rows(got: list, want: list) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(same_cell(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def parse_output(text: str, fmt: str) -> tuple[list[list], list[list]]:
    """(data rows, totals rows) of a rendered result."""
    if fmt.startswith("JSON"):
        doc = json.loads(text)
        names = [m["name"] for m in doc["meta"]]
        rows = [[r[n] for n in names] for r in doc["data"]]
        tot = doc.get("totals")
        return rows, ([[tot[n] for n in names]] if tot else [])
    if fmt.startswith("Pretty"):
        rows = []
        for line in text.splitlines():
            if "│" in line:
                rows.append([c.strip() for c in line.split("│")[1:-1]])
        return rows, []
    blocks = text.rstrip("\n").split("\n\n")
    def tsv(block: str) -> list[list]:
        return [line.split("\t") for line in block.split("\n")] if block else []
    return tsv(blocks[0]), (tsv(blocks[1]) if len(blocks) > 1 else [])


def check_select(tpl: str, fmt: str, text: str, want: list) -> str | None:
    """None when ``text`` is the correct rendering of ``want`` for this
    template, else a one-line reason."""
    try:
        rows, totals = parse_output(text, fmt)
    except (ValueError, KeyError) as e:
        return f"unparsable {fmt} output: {e}"
    if tpl == "uniq_quantile":
        if len(rows) != len(want):
            return f"{len(rows)} rows, want {len(want)}"
        for (reg, u, q), (wreg, wu, qlo, qhi) in zip(rows, want):
            if canon(reg) != wreg:
                return f"region {reg} != {wreg}"
            if abs(canon(u) - wu) > 0.05 * wu:
                return f"uniq {u} outside 5% of {wu}"
            if not qlo - 1e-9 <= canon(q) <= qhi + 1e-9:
                return f"quantile {q} outside [{qlo}, {qhi}]"
        return None
    if tpl == "totals":
        want_rows = [w[1:] for w in want if w[0] == 0]
        want_tot = [w[1:] for w in want if w[0] == 1]
        if not same_rows(totals, want_tot):
            return f"totals {totals} != {want_tot}"
        want = want_rows
    if not same_rows(rows, want):
        return f"{len(rows)} rows differ from the {len(want)} expected (first: {rows[:1]} vs {want[:1]})"
    return None


def oracle_compare(got_cols: list[str], got_rows: list, want_cols: list[str], want_rows: list,
                   min_recall: float | None = None) -> str | None:
    """The registry's oracle rule: same sorted column names, same
    multiset of rows (values normalised).  With ``min_recall`` the rows
    may be a subset of the oracle's holding at least that share of it
    (for probabilistic candidate search with exact verification)."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    gi = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
    wi = sorted(range(len(want_cols)), key=lambda i: want_cols[i])

    def key(row, idx):
        return tuple(repr(canon(row[i])) for i in idx)

    g = sorted((tuple(r[i] for i in gi) for r in got_rows), key=lambda r: key(r, range(len(r))))
    w = sorted((tuple(r[i] for i in wi) for r in want_rows), key=lambda r: key(r, range(len(r))))
    if min_recall is not None:
        wanted = {key(r, range(len(r))): r for r in w}
        stray = [r for r in g if not same_rows([r], [wanted.get(key(r, range(len(r))), ())])]
        if stray:
            return f"{len(stray)} rows not in the oracle (first {stray[0]})"
        if len(g) < min_recall * len(w):
            return f"found {len(g)} of {len(w)} oracle rows, below {min_recall:.0%}"
        return None
    if not same_rows(g, w):
        return f"{len(g)} rows vs {len(w)} expected, values differ"
    return None
