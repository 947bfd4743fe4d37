"""Make one run's inputs and expected results from its seed.

Runs in its own process before the program starts, so generation and
the DuckDB / model checks stay out of the timed region and out of the
program's memory figures.

    python3 perfbench/prepare.py --workload sql_interactive --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import os
import pickle
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402


def prepare(workload: str, seed: int, out: str) -> dict:
    t0 = time.perf_counter()
    os.makedirs(out, exist_ok=True)
    if workload == "sql_interactive":
        import sqlwork

        files = gen.write_sql_inputs(seed, out)
        plan = sqlwork.build_stream(seed)
        plan["files"] = files
        plan["want"] = sqlwork.expected_results(plan, files)
    elif workload == "batch_jobs":
        import batchwork

        sys.path.insert(0, os.path.dirname(HERE))
        from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries import oracle_sql_map

        import mtwork

        files = gen.write_batch_inputs(seed, out)
        plan = {"files": files, "want": batchwork.expected_results(oracle_sql_map(), files),
                "ingest": mtwork.build_stream(seed)}
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    # expected values in their printed form, so the runner needs no
    # database driver types
    def canon_tree(x):
        if isinstance(x, dict):
            return {k: canon_tree(v) for k, v in x.items()}
        if isinstance(x, list):
            return [canon_tree(v) for v in x]
        return checks.canon(x) if not isinstance(x, str) else x

    plan = canon_tree(plan)
    plan["gen_s"] = time.perf_counter() - t0
    with open(os.path.join(out, "plan.pkl"), "wb") as fh:
        pickle.dump(plan, fh)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    prepare(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
