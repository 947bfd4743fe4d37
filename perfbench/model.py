"""Reference model of the MergeTree-family merge semantics.

The ``mergetree_ingest`` workload replays the same INSERTs into these
pure-Python tables and compares every FINAL read, and every read right
after OPTIMIZE, with what the model says a full merge must leave:

- Replacing: per primary key, the row with the highest version; among
  equal versions the one inserted last.
- Summing: per primary key, the numeric columns summed; a key whose
  sums are all zero disappears.
- Collapsing: per primary key, with P rows of sign 1 and N of sign -1:
  P == N leaves nothing, unless the first row is a -1 and the last a 1,
  which leaves that pair; P > N leaves the last 1-row; N > P leaves the
  first -1-row.
"""

from __future__ import annotations


class ReplacingModel:
    def __init__(self, key: tuple[str, ...], version: str):
        self.key, self.version = key, version
        self._rows: dict[tuple, dict] = {}

    def insert(self, rows: list[dict]) -> None:
        for r in rows:
            k = tuple(r[c] for c in self.key)
            cur = self._rows.get(k)
            if cur is None or r[self.version] >= cur[self.version]:
                self._rows[k] = dict(r)

    def final(self) -> list[dict]:
        return [self._rows[k] for k in sorted(self._rows)]


class SummingModel:
    def __init__(self, key: tuple[str, ...], sums: tuple[str, ...]):
        self.key, self.sums = key, sums
        self._rows: dict[tuple, dict] = {}

    def insert(self, rows: list[dict]) -> None:
        for r in rows:
            k = tuple(r[c] for c in self.key)
            cur = self._rows.get(k)
            if cur is None:
                self._rows[k] = dict(r)
            else:
                for c in self.sums:
                    cur[c] += r[c]

    def final(self) -> list[dict]:
        return [
            self._rows[k] for k in sorted(self._rows)
            if any(self._rows[k][c] != 0 for c in self.sums)
        ]


class CollapsingModel:
    def __init__(self, key: tuple[str, ...], sign: str):
        self.key, self.sign = key, sign
        self._rows: dict[tuple, list[dict]] = {}

    def insert(self, rows: list[dict]) -> None:
        for r in rows:
            self._rows.setdefault(tuple(r[c] for c in self.key), []).append(dict(r))

    def final(self) -> list[dict]:
        out: list[dict] = []
        for k in sorted(self._rows):
            hist = self._rows[k]
            pos = [r for r in hist if r[self.sign] == 1]
            neg = [r for r in hist if r[self.sign] == -1]
            if len(pos) == len(neg):
                if hist[0][self.sign] == -1 and hist[-1][self.sign] == 1:
                    out.extend([hist[0], hist[-1]])
            elif len(pos) > len(neg):
                out.append(pos[-1])
            else:
                out.append(neg[0])
        return out
