"""Interleaved A/B of the repo benchmark: a parent revision against the
working tree.

    python3 scripts/ab_pairs.py PARENT_REV [--pairs 10] \
        [--workloads sql_interactive,batch_jobs] [--seconds 15] [--first-seed 1]

PARENT_REV is checked out into a temporary ``git worktree`` (removed at
exit); a PARENT_REV that names a directory is used as the parent tree
as it is.  Each pair runs ``perfbench/run.py`` unchanged on both trees
with the same seed (seeds ``--first-seed`` onwards), one side after the
other, and the side that goes first alternates from pair to pair, so a
drift in host speed hits both sides alike.

For each workload and each end-to-end metric of BENCHMARK.json it prints
both sides' median and quartiles, how many pairs the change won (by the
metric's ``better`` direction), and each side's failed/attempted
operations.  The last stdout line is every run's raw result as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench_run(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``tree``: its result line, or a failure
    record when the run did not produce one."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    try:
        res = json.loads(lines[-1])
        res["metrics"] = {k: v["value"] for k, v in res["metrics"].items()}
        return res
    except (IndexError, KeyError, ValueError):
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "error": (p.stderr or p.stdout)[-2000:]}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(workload: str, runs: list[dict], end_to_end: list[dict]) -> None:
    print(f"\n== {workload}: {len(runs)} pairs")
    print(f"{'metric':<18} {'parent q1/med/q3':>28} {'change q1/med/q3':>28}  wins")
    for m in end_to_end:
        k, higher = m["name"], m["better"] == "higher"
        pairs = [(r["parent"]["metrics"][k], r["change"]["metrics"][k])
                 for r in runs
                 if k in r["parent"]["metrics"] and k in r["change"]["metrics"]]
        if not pairs:
            print(f"{k:<18} no complete pairs")
            continue
        par = quartiles([p for p, _ in pairs])
        chg = quartiles([c for _, c in pairs])
        wins = sum((c > p) if higher else (c < p) for p, c in pairs)
        print(f"{k:<18} {'/'.join(f'{v:.4g}' for v in par):>28} "
              f"{'/'.join(f'{v:.4g}' for v in chg):>28}  {wins}/{len(pairs)}")
    for side in ("parent", "change"):
        failed = sum(r[side]["failed"] for r in runs)
        attempted = sum(r[side]["attempted"] for r in runs)
        broken = sum(1 for r in runs if "error" in r[side])
        print(f"{side}: failed/attempted {failed}/{attempted}, runs without a result {broken}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", metavar="PARENT_REV")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default="sql_interactive,batch_jobs")
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]

    worktree = None
    parent = a.parent
    if not os.path.isdir(parent):
        worktree = tempfile.mkdtemp(prefix="ab_parent_")
        subprocess.run(["git", "worktree", "add", "--detach", worktree, a.parent],
                       cwd=ROOT, check=True, capture_output=True)
        parent = worktree
    trees = {"parent": parent, "change": ROOT}
    results: dict[str, list[dict]] = {}
    try:
        for w in a.workloads.split(","):
            results[w] = []
            for i in range(a.pairs):
                seed = a.first_seed + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                pair = {"seed": seed, "first": order[0]}
                for side in order:
                    pair[side] = bench_run(trees[side], w, seed, a.seconds)
                    print(f"{w} seed {seed} {side}: {pair[side]['metrics']}",
                          file=sys.stderr, flush=True)
                results[w].append(pair)
            report(w, results[w], end_to_end)
    finally:
        if worktree is not None:
            subprocess.run(["git", "worktree", "remove", "--force", worktree],
                           cwd=ROOT, capture_output=True)
            shutil.rmtree(worktree, ignore_errors=True)
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
