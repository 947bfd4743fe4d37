"""The MergeTree ingest round of every ``batch_jobs`` pass: INSERT blocks
into Replacing and Summing MergeTree tables, with FINAL reads, a point
lookup and OPTIMIZE between them.

The stream is built in rounds (a pass runs one).  A round holds six
INSERTs, one of each block size in BLOCK_SIZES, three to each table, in
seed order; then a FINAL aggregate of each table, a FINAL point lookup,
and an OPTIMIZE of each table followed by a plain read of it.  Keys are
Zipf-skewed.  The model in model.py gives the expected answer of every
read.

CollapsingMergeTree is not in ROLES: the program's FINAL and OPTIMIZE
on it keep an arbitrary ``sign = 1`` row of a key instead of the last
one, so a key updated in two parts can read back its old state
(NOTES.md, "Known program defect").  Its generator and model stay for
the strict-xfail probe in test_perfbench.py, which starts failing once
the program is fixed; then the role goes back into ROLES.
"""

from __future__ import annotations

import numpy as np

from model import CollapsingModel, ReplacingModel, SummingModel

ROUNDS = 1
BLOCK_SIZES = (100, 250, 500, 1000, 2000, 5000)
# the tables a pass writes (see the module docstring for Collapsing)
ROLES = ("replacing", "summing")
KEYS = {"replacing": 20_000, "summing": 4_000, "collapsing": 5_000}

DDL = {
    "replacing": "CREATE TABLE {t} (k UInt32, d Date, v UInt64, ver UInt32) "
                 "ENGINE = ReplacingMergeTree(d, (k), 8192, ver)",
    "summing": "CREATE TABLE {t} (k UInt32, d Date, hits UInt64, amount Int64) "
               "ENGINE = SummingMergeTree(d, (k, d), 8192)",
    "collapsing": "CREATE TABLE {t} (k UInt32, d Date, v Int64, sign Int8) "
                  "ENGINE = CollapsingMergeTree(d, (k), 8192, sign)",
}
COLS = {
    "replacing": ("k", "d", "v", "ver"),
    "summing": ("k", "d", "hits", "amount"),
    "collapsing": ("k", "d", "v", "sign"),
}
AGG = {
    "replacing": ("SELECT count(), sum(v), max(ver) FROM {t}{final}",
                  lambda rows: [[len(rows), sum(r["v"] for r in rows), max((r["ver"] for r in rows), default=0)]]),
    "summing": ("SELECT count(), sum(hits), sum(amount) FROM {t}{final}",
                lambda rows: [[len(rows), sum(r["hits"] for r in rows), sum(r["amount"] for r in rows)]]),
    "collapsing": ("SELECT count(), sum(v) FROM {t}{final}",
                   lambda rows: [[len(rows), sum(r["v"] for r in rows)]]),
}


def table_name(role: str, suffix: str = "") -> str:
    return f"mt_{role}{suffix}"


def _zipf_keys(rng, n_keys: int, size: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n_keys + 1) ** 0.9
    return rng.choice(n_keys, size=size, p=w / w.sum())


class _Gen:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 20])
        self.models = {
            "replacing": ReplacingModel(("k",), "ver"),
            "summing": SummingModel(("k", "d"), ("hits", "amount")),
            "collapsing": CollapsingModel(("k",), "sign"),
        }
        self.ver = 0
        self.live: dict[int, tuple[str, int]] = {}  # collapsing key -> state

    def _day(self) -> str:
        return f"2024-03-{int(self.rng.integers(1, 29)):02d}"

    def rows(self, role: str, n: int) -> list[dict]:
        rng = self.rng
        keys = _zipf_keys(rng, KEYS[role], n)
        out: list[dict] = []
        if role == "replacing":
            for k in keys:
                self.ver += 1
                out.append({"k": int(k), "d": self._day(), "v": int(rng.integers(0, 1_000_000)), "ver": self.ver})
        elif role == "summing":
            for k in keys:
                out.append({"k": int(k), "d": f"2024-03-{int(k) % 5 + 1:02d}",
                            "hits": int(rng.integers(1, 6)), "amount": int(rng.integers(-100, 1000))})
        else:
            # well-formed collapsing usage: cancel the live state of a
            # key before writing its new one
            for k in keys:
                if len(out) >= n:
                    break
                k = int(k)
                old = self.live.pop(k, None)
                if old is not None:
                    out.append({"k": k, "d": old[0], "v": old[1], "sign": -1})
                if old is None or rng.random() < 0.8:
                    new = (self._day(), int(rng.integers(-1000, 1_000_000)))
                    self.live[k] = new
                    out.append({"k": k, "d": new[0], "v": new[1], "sign": 1})
        self.models[role].insert(out)
        return out

    def final(self, role: str) -> list[dict]:
        return self.models[role].final()


def _values(role: str, rows: list[dict]) -> str:
    cols = COLS[role]
    return ", ".join(
        "(" + ", ".join(f"'{r[c]}'" if c == "d" else str(r[c]) for c in cols) + ")"
        for r in rows
    )


def build_stream(seed: int, rounds: int = ROUNDS) -> list[dict]:
    """Ops with table roles (the runner substitutes table names) and
    the model's expected rows for every read."""
    g = _Gen(seed)
    rng = g.rng
    ops: list[dict] = []
    for rnd in range(rounds):
        roles = [ROLES[i] for i in rng.permutation(np.arange(len(BLOCK_SIZES)) % len(ROLES))]
        for role, n in zip(roles, rng.permutation(BLOCK_SIZES)):
            rows = g.rows(role, int(n))
            ops.append({"kind": "insert", "role": role, "round": rnd, "rows": len(rows),
                        "sql": f"INSERT INTO {{t}} ({', '.join(COLS[role])}) VALUES {_values(role, rows)}"})
        for agg_role in ROLES:
            sql, expect = AGG[agg_role]
            ops.append({"kind": "select", "role": agg_role, "round": rnd,
                        "sql": sql.format(t="{t}", final=" FINAL"), "want": expect(g.final(agg_role))})
        look_role = ROLES[(rnd + 1) % len(ROLES)]
        final = g.final(look_role)
        k = final[int(rng.integers(0, len(final)))]["k"] if final else 1
        cols = COLS[look_role]
        ops.append({"kind": "select", "role": look_role, "round": rnd,
                    "sql": f"SELECT {', '.join(cols)} FROM {{t}} FINAL WHERE k = {k} ORDER BY {', '.join(cols)}",
                    "want": sorted([[r[c] for c in cols] for r in final if r["k"] == k])})
        for opt_role in ROLES:
            ops.append({"kind": "optimize", "role": opt_role, "round": rnd, "sql": "OPTIMIZE TABLE {t}"})
            sql, expect = AGG[opt_role]
            ops.append({"kind": "select", "role": opt_role, "round": rnd,
                        "sql": sql.format(t="{t}", final=""), "want": expect(g.final(opt_role))})
    return ops
