"""Interleaved A/B of the repo benchmark: a parent revision against the
working tree.

    python3 scripts/ab_pairs.py PARENT_REV [--pairs 10] \
        [--workloads sql_interactive,batch_jobs] [--seconds 15] [--first-seed 1] \
        [--detail insert_p50_ms --detail optimize_p50_ms]

PARENT_REV is exported with ``git archive`` into a temporary directory
(removed at exit); a PARENT_REV that names a directory is used as the
parent tree as it is.  Each pair runs ``perfbench/run.py`` unchanged on
both trees with the same seed (seeds ``--first-seed`` onwards), one side
after the other, and the side that goes first alternates from pair to
pair, so a drift in host speed hits both sides alike.

For each workload and each end-to-end metric of BENCHMARK.json it prints
both sides' median and quartiles, how many pairs the change won (by the
metric's ``better`` direction) and a verdict:

- ``unresolved``: either side's spread (quartile gap over median) is
  wider than the metric's bound, unless every run of the change reads
  better than every run of the parent;
- ``worse``: the change's median is worse than the parent's by more
  than the bound (relative);
- ``gain``: the change won at least 9 pairs in 10 and its median is
  better by more than the parent's quartile gap;
- ``same``: none of these.

``--detail KEY`` (repeatable) tabulates a field of the details line the
runner prints before its result (a dotted path into nested fields, such
as ``insert_p50_ms`` or ``trace.jobs_per_op``); a lower value counts as
a win.  Each side's failed/attempted operations follow.  The last stdout
line is every run's raw result as JSON.
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
        res["detail"] = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
        return res
    except (IndexError, KeyError, ValueError):
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "detail": {}, "error": (p.stderr or p.stdout)[-2000:]}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def detail_value(detail: dict, key: str) -> float | None:
    """A numeric field of the details line; ``key`` is a dotted path."""
    v = detail
    for part in key.split("."):
        if not isinstance(v, dict) or part not in v:
            return None
        v = v[part]
    return v if isinstance(v, (int, float)) else None


def verdict(par: list[float], chg: list[float], higher: bool, bound: float) -> str:
    """The outcome of one metric over the pairs (see the module doc)."""
    (p1, pm, p3), (c1, cm, c3) = quartiles(par), quartiles(chg)
    separated = (min(chg) > max(par)) if higher else (max(chg) < min(par))
    if not separated and any(
        m and (q3 - q1) / abs(m) > bound for q1, m, q3 in ((p1, pm, p3), (c1, cm, c3))
    ):
        return "unresolved"
    worse_by = (pm - cm) if higher else (cm - pm)
    if pm and worse_by / abs(pm) > bound:
        return "worse"
    wins = sum((c > p) if higher else (c < p) for p, c in zip(par, chg))
    if wins >= 0.9 * len(par) and -worse_by > p3 - p1:
        return "gain"
    return "same"


def _row(name: str, pairs: list[tuple[float, float]], higher: bool, tail: str) -> None:
    par = quartiles([p for p, _ in pairs])
    chg = quartiles([c for _, c in pairs])
    wins = sum((c > p) if higher else (c < p) for p, c in pairs)
    print(f"{name:<18} {'/'.join(f'{v:.4g}' for v in par):>28} "
          f"{'/'.join(f'{v:.4g}' for v in chg):>28}  {wins}/{len(pairs)}  {tail}")


def report(workload: str, runs: list[dict], end_to_end: list[dict],
           details: list[str]) -> None:
    print(f"\n== {workload}: {len(runs)} pairs")
    print(f"{'metric':<18} {'parent q1/med/q3':>28} {'change q1/med/q3':>28}  wins  verdict")
    for m in end_to_end:
        k, higher = m["name"], m["better"] == "higher"
        pairs = [(r["parent"]["metrics"][k], r["change"]["metrics"][k])
                 for r in runs
                 if k in r["parent"]["metrics"] and k in r["change"]["metrics"]]
        if not pairs:
            print(f"{k:<18} no complete pairs")
            continue
        _row(k, pairs, higher, verdict([p for p, _ in pairs], [c for _, c in pairs],
                                       higher, m["bound"]))
    for k in details:
        pairs = [(detail_value(r["parent"]["detail"], k), detail_value(r["change"]["detail"], k))
                 for r in runs]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if pairs:
            _row(k, pairs, False, "(detail)")
        else:
            print(f"{k:<18} not in the details")
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
    ap.add_argument("--detail", action="append", default=[], metavar="KEY")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]

    export = None
    parent = a.parent
    if not os.path.isdir(parent):
        export = tempfile.mkdtemp(prefix="ab_parent_")
        archive = subprocess.run(["git", "archive", a.parent], cwd=ROOT, check=True,
                                 capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", export], input=archive, check=True)
        parent = export
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
            report(w, results[w], end_to_end, a.detail)
    finally:
        if export is not None:
            shutil.rmtree(export, ignore_errors=True)
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
