"""``batch_jobs``: the stored-hits build, the registry builders,
then a MergeTree ingest round (mtwork.py).

Every pass reads the same seeded ``events`` / ``documents`` files
through a fresh input directory of symlinks, so the program's plan
memos miss the way they would on new data.
"""

from __future__ import annotations

import os

# The hits shapes run on the stored table only (their twins over raw
# events repeat the same plans on another scan and would not fit the
# run-time budget).
OPS = (
    "hits_q13_stored", "hits_q17_stored", "hits_q19_stored", "hits_q21_stored",
    "hits_q34_stored",
    "asof_join_latest_view", "sessionize_events", "sequence_match_funnel",
    "pl_exact_dedup", "pl_minhash_lsh_dedup", "pl_dup_clusters", "pl_token_stats",
)
# MinHash-LSH finds a near-duplicate pair with probability
# 1 - (1 - J^4)^8 (8 bands of 4 hashes): 0.985 at the J = 0.8 threshold
# and more above it.  Its oracle is exact brute force, so the op is held
# to that bound: every pair it reports must be an oracle pair (values
# included), and it must find at least MIN_RECALL of them.
LSH_OPS = ("pl_minhash_lsh_dedup",)
MIN_RECALL = 0.97


def expected_results(oracles: dict[str, str], files: dict[str, str]) -> dict[str, dict]:
    """Oracle rows per op (None = rows-only: the registry has no oracle for it)."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET enable_progress_bar = false")
    for name, path in files.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    out: dict[str, dict] = {}
    for op in OPS:
        sql = oracles.get(op)
        if sql is None:
            out[op] = None
            continue
        res = con.sql(sql)
        out[op] = {"cols": list(res.columns), "rows": [list(r) for r in res.fetchall()]}
    con.close()
    return out
