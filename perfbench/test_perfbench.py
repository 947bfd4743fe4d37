"""Self-tests of the benchmark's helpers (no Spark needed), plus one
probe of the program that records a known defect (it starts a Spark
session).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow.parquet as pq  # noqa: E402
import pytest  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import mtwork  # noqa: E402
import sqlwork  # noqa: E402
import stats  # noqa: E402
from model import CollapsingModel, ReplacingModel, SummingModel  # noqa: E402
from tracing import Span  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------- tails

@pytest.mark.parametrize("n, pct", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_rule_needs_ten_samples_beyond(n, pct):
    assert stats.tail_rule_pct(n) == pct
    if pct is not None:
        assert stats.beyond(n, pct) >= stats.MIN_BEYOND


def test_tail_summary_reports_counts():
    vals = [float(i) for i in range(1, 41)]
    t = stats.tail_summary(vals)
    assert t["n"] == 40 and t["beyond"] == 10 and t["rule_pct"] == 75.0
    assert t["value"] == pytest.approx(30.25)


def test_percentile_interpolates_like_numpy():
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert stats.percentile([5.0], 99) == 5.0


# --------------------------------------------------- seed determinism

def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for sub in ("a", "b"):
        d = tmp_path / sub
        d.mkdir()
        gen._write(gen.hits_table(7, rows=3_000), str(d / "hits.parquet"))
        gen._write(gen.events_table(7, rows=3_000), str(d / "events.parquet"))
        gen._write(gen.documents_table(7, rows=300), str(d / "documents.parquet"))
    for name in ("hits", "events", "documents"):
        assert _digest(tmp_path / "a" / f"{name}.parquet") == _digest(tmp_path / "b" / f"{name}.parquet")


def test_other_seed_gives_other_inputs(tmp_path):
    gen._write(gen.hits_table(7, rows=3_000), str(tmp_path / "a.parquet"))
    gen._write(gen.hits_table(8, rows=3_000), str(tmp_path / "b.parquet"))
    assert _digest(tmp_path / "a.parquet") != _digest(tmp_path / "b.parquet")
    assert pq.ParquetFile(tmp_path / "a.parquet").metadata.num_rows == 3_000


def test_statement_streams_are_seeded():
    assert sqlwork.build_stream(3) == sqlwork.build_stream(3)
    assert sqlwork.build_stream(3) != sqlwork.build_stream(4)
    assert mtwork.build_stream(3, rounds=2) == mtwork.build_stream(3, rounds=2)


def test_sql_stream_repeats_about_half_and_covers_every_template():
    plan = sqlwork.build_stream(5)
    seen = {op["sql"] for op in plan["warm"]}
    repeats = 0
    for op in plan["stream"]:
        repeats += op["sql"] in seen
        seen.add(op["sql"])
    share = repeats / len(plan["stream"])
    assert 0.45 <= share <= 0.75
    for rnd in range(sqlwork.ROUNDS):
        assert sorted(o["tpl"] for o in plan["stream"] if o["round"] == rnd) == sorted(sqlwork.TEMPLATES)


def test_mergetree_rounds_have_the_fixed_mix():
    ops = mtwork.build_stream(11, rounds=3)
    for rnd in range(3):
        kinds = [o["kind"] for o in ops if o["round"] == rnd]
        assert (kinds.count("insert"), kinds.count("select"), kinds.count("optimize")) == (6, 5, 2)
        sizes = sorted(o["rows"] for o in ops if o["round"] == rnd and o["kind"] == "insert")
        assert sizes == sorted(mtwork.BLOCK_SIZES)
        assert {o["role"] for o in ops if o["round"] == rnd} == set(mtwork.ROLES)


# ------------------------------------------------------ FINAL model

def test_replacing_keeps_highest_version_then_last_inserted():
    m = ReplacingModel(("k",), "ver")
    m.insert([{"k": 1, "v": "a", "ver": 2}, {"k": 1, "v": "b", "ver": 1}, {"k": 2, "v": "c", "ver": 5}])
    m.insert([{"k": 2, "v": "d", "ver": 5}])
    assert [(r["k"], r["v"]) for r in m.final()] == [(1, "a"), (2, "d")]


def test_summing_adds_and_drops_all_zero_keys():
    m = SummingModel(("k",), ("x", "y"))
    m.insert([{"k": 1, "x": 2, "y": 3}, {"k": 1, "x": 5, "y": -3}, {"k": 2, "x": 1, "y": 1}])
    m.insert([{"k": 2, "x": -1, "y": -1}])
    assert [(r["k"], r["x"], r["y"]) for r in m.final()] == [(1, 7, 0)]


def test_collapsing_rules():
    m = CollapsingModel(("k",), "s")
    m.insert([
        {"k": 1, "v": 1, "s": 1}, {"k": 1, "v": 1, "s": -1}, {"k": 1, "v": 2, "s": 1},  # P > N: last +1
        {"k": 2, "v": 1, "s": 1}, {"k": 2, "v": 1, "s": -1},                            # P == N: gone
        {"k": 3, "v": 9, "s": -1}, {"k": 3, "v": 8, "s": -1}, {"k": 3, "v": 7, "s": 1},  # N > P: first -1
        {"k": 4, "v": 5, "s": -1}, {"k": 4, "v": 6, "s": 1},                            # -1 first, +1 last
    ])
    assert [(r["k"], r["v"], r["s"]) for r in m.final()] == [
        (1, 2, 1), (3, 9, -1), (4, 5, -1), (4, 6, 1),
    ]


def test_generated_collapsing_stream_is_well_formed():
    g = mtwork._Gen(1)
    rows = g.rows("collapsing", 3_000) + g.rows("collapsing", 3_000)
    per_key: dict[int, list[int]] = {}
    for r in rows:
        per_key.setdefault(r["k"], []).append(r["sign"])
    for signs in per_key.values():
        assert signs[0] == 1
        assert all(a != b for a, b in zip(signs, signs[1:]))  # strictly alternating


@pytest.mark.xfail(strict=True, raises=AssertionError, reason=(
    "program defect: FINAL on a CollapsingMergeTree table keeps an arbitrary sign = 1 row "
    "of a key, not the last one (dialect/translate.py _final_subquery); once this passes, "
    "put 'collapsing' back into mtwork.ROLES"))
def test_program_collapsing_final_matches_model(tmp_path, monkeypatch):
    for k, v in {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g",
                 "SPARK_LOCAL_DIRS": str(tmp_path)}.items():
        monkeypatch.setenv(k, v)
    monkeypatch.syspath_prepend(ROOT)
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark import dialect, session

    spark = session.get_session(app_name="perfbench-probe")
    try:
        eng = dialect.ChEngine(spark)
        cols = mtwork.COLS["collapsing"]
        eng.execute(mtwork.DDL["collapsing"].format(t="mt_probe"))
        g = mtwork._Gen(1)
        for n in (500, 500):
            rows = g.rows("collapsing", n)
            eng.execute(f"INSERT INTO mt_probe ({', '.join(cols)}) "
                        f"VALUES {mtwork._values('collapsing', rows)}")
        got = eng.execute(f"SELECT {', '.join(cols)} FROM mt_probe FINAL").collect()
        eng.execute("DROP TABLE mt_probe")
    finally:
        spark.stop()
    want = g.final("collapsing")
    assert sorted(tuple(str(x) for x in r) for r in got) == \
        sorted(tuple(str(r[c]) for c in cols) for r in want)


# ----------------------------------------------------------- checks

def test_parse_tsv_with_totals_and_json_and_pretty():
    assert checks.parse_output("1\t2\n3\t4\n\n0\t6\n", "TabSeparated") == (
        [["1", "2"], ["3", "4"]], [["0", "6"]])
    js = '{"meta": [{"name": "a"}, {"name": "b"}], "data": [{"a": "5", "b": 1.5}], "rows": 1}'
    assert checks.parse_output(js, "JSON") == ([["5", 1.5]], [])
    pretty = "┌─a─┬─b─┐\n│ 1 │ x │\n└───┴───┘\n"
    assert checks.parse_output(pretty, "PrettyCompact") == ([["1", "x"]], [])


def test_check_select_compares_values_and_catches_differences():
    assert checks.check_select("count_filter", "TabSeparated", "42\n", [[42]]) is None
    assert checks.check_select("count_filter", "TabSeparated", "41\n", [[42]])
    assert checks.check_select("totals", "TabSeparated", "1\t2\n\n0\t2\n", [[0, 1, 2], [1, 0, 2]]) is None
    q = '{"meta": [{"name": "r"}, {"name": "u"}, {"name": "q"}], "data": [{"r": 1, "u": "101", "q": 5.0}]}'
    assert checks.check_select("uniq_quantile", "JSON", q, [[1, 100, 4.0, 6.0]]) is None
    assert checks.check_select("uniq_quantile", "JSON", q, [[1, 100, 5.5, 6.0]])


def test_oracle_compare_ignores_row_and_column_order():
    assert checks.oracle_compare(["b", "a"], [[2, 1], [4, 3]], ["a", "b"], [[3, 4], [1, 2]]) is None
    assert checks.oracle_compare(["a"], [[1]], ["a"], [[2]])


# ------------------------------------------------------------ spans

def test_self_time_subtracts_overlapping_children_once():
    root = Span("op", 0.0, 10.0)
    a, b, c = Span("a", 1.0, 4.0), Span("b", 3.0, 5.0), Span("c", 8.0, 12.0)
    root.children = [a, b, c]
    assert root.self_time() == pytest.approx(10.0 - 4.0 - 2.0)


def test_tracer_own_time_adds_bookkeeping_to_internal_work_and_leaves_no_spans():
    from tracing import TRACER, own_time_s

    before = (list(TRACER.spans), TRACER.py4j, TRACER.enabled)
    assert own_time_s(0, 0, 1.5, reps=1_000) == pytest.approx(1.5)
    assert 0.0 < own_time_s(10_000, 10_000, 0.0, reps=1_000) < 1.0
    assert (list(TRACER.spans), TRACER.py4j, TRACER.enabled) == before


# ------------------------------------------------------- contract

def test_seconds_buy_whole_rounds():
    import run

    assert run.rounds_for(15, run.SQL_ROUND_S) == 3
    assert run.rounds_for(15, run.BATCH_PASS_S) == 1
    assert run.rounds_for(0.5, run.SQL_ROUND_S) == 1


def test_benchmark_json_matches_what_the_runner_prints():
    import json

    import batchwork
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    layer = list(run.LAYER_METRICS) + [f"op.{n}_s" for n in batchwork.OPS]
    assert [m["name"] for m in spec["per_layer"]] == layer
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in spec["per_layer"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_lsh_check_allows_missed_pairs_within_recall_but_no_strays():
    want = [[1, 2, 0.9], [1, 3, 0.85], [2, 3, 0.8]]
    assert checks.oracle_compare(["a", "b", "j"], want[:2], ["a", "b", "j"], want, min_recall=0.6) is None
    assert checks.oracle_compare(["a", "b", "j"], want[:1], ["a", "b", "j"], want, min_recall=0.6)
    assert checks.oracle_compare(["a", "b", "j"], [[1, 2, 0.5]], ["a", "b", "j"], want, min_recall=0.0)
