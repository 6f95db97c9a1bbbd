"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import gen  # noqa: E402
from probe import Span, Tracer, self_times  # noqa: E402
from workloads import CURATE_OPS  # noqa: E402


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    return gen.write_inputs(7, str(tmp_path_factory.mktemp("inputs")))


@pytest.fixture(scope="module")
def con(inputs):
    c = checks.connect(inputs)
    yield c
    c.close()


# ------------------------------------------------------------- generator


def test_generator_is_deterministic_per_seed_and_differs_across_seeds():
    a, b, c = gen.make_tables(3), gen.make_tables(3), gen.make_tables(4)
    assert a.keys() == c.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["orders"].equals(c["orders"])
    assert not a["documents"].equals(c["documents"])
    assert gen.corpus_plan(3) == gen.corpus_plan(3) != gen.corpus_plan(4)
    assert gen.serve_plan(3) == gen.serve_plan(3) != gen.serve_plan(4)


def test_generated_keys_are_unique_and_foreign_keys_resolve(con):
    for table, key in [("customer", "c_custkey"), ("orders", "o_orderkey"), ("part", "p_partkey"),
                       ("supplier", "s_suppkey"), ("documents", "doc_id"), ("embeddings", "vec_id"),
                       ("events", "event_id")]:
        n, d = con.sql(f"SELECT count(*), count(DISTINCT {key}) FROM {table}").fetchone()
        assert n == d, table
    for child, fk, parent, pk in [("orders", "o_custkey", "customer", "c_custkey"),
                                  ("lineitem", "l_orderkey", "orders", "o_orderkey"),
                                  ("lineitem", "l_partkey", "part", "p_partkey"),
                                  ("lineitem", "l_suppkey", "supplier", "s_suppkey")]:
        orphans = con.sql(
            f"SELECT count(*) FROM {child} WHERE {fk} NOT IN (SELECT {pk} FROM {parent})"
        ).fetchone()[0]
        assert orphans == 0, (child, fk)


def test_write_inputs_reuses_a_seed_directory(tmp_path):
    out = gen.write_inputs(5, str(tmp_path))
    stamp = os.path.getmtime(os.path.join(out, "orders.parquet"))
    assert gen.write_inputs(5, str(tmp_path)) == out
    assert os.path.getmtime(os.path.join(out, "orders.parquet")) == stamp


# --------------------------------------------------------------- metrics


def test_benchmark_json_fits_the_contract_and_names_every_layer_metric():
    from dbt_jaffleshop_spark.plans.dag import MODELS
    from dbt_jaffleshop_spark.plans.exports import EXPORTS
    from run import LAYERS, per_layer_units

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        m = json.load(f)
    assert m["command"] == ["python3", "perfbench/run.py"] and m["paths"] == ["perfbench"]
    names = [x["name"] for x in m["end_to_end"] + m["per_layer"]]
    assert len(m["end_to_end"]) <= 16 and len(m["per_layer"]) <= 128
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in m["end_to_end"]
    assert all(0 < x["bound"] <= 0.25 for x in m["end_to_end"])
    # every model, export, operator and span layer has its metric
    expected = (
        [f"dag.model_s.{x}" for x in MODELS] + [f"dag.export_s.{x}" for x in EXPORTS]
        + [f"llm.op_s.{op}" for ops in CURATE_OPS.values() for op in ops]
        + [f"self_s.{x}" for x in LAYERS]
    )
    assert set(expected) <= set(per_layer_units())


# ----------------------------------------------------------------- spans


def test_self_time_subtracts_the_union_of_children():
    # root 0..10 with children 1..4 and 3..6 (overlapping, other threads)
    # and 8..9; the 3..6 child has its own child 4..5
    spans = [
        Span("pass", "bench", 0.0, 10.0, None, "t", 0),
        Span("a", "dag", 1.0, 4.0, 0, "t", 1),
        Span("b", "semantic", 3.0, 6.0, 0, "t", 2),
        Span("c", "spark", 4.0, 5.0, 2, "t", 3),
        Span("d", "spark", 8.0, 9.0, 0, "t", 4),
    ]
    st = self_times(spans)
    assert st["bench"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["dag"] == pytest.approx(3.0)
    assert st["semantic"] == pytest.approx(2.0)
    assert st["spark"] == pytest.approx(2.0)


def test_tracer_links_parents_and_is_free_when_disabled():
    off = Tracer(enabled=False)
    with off.span("x", "bench"):
        pass
    assert off.spans == [] and off.recorder_s == 0.0
    on = Tracer(enabled=True)
    with on.span("pass", "bench", "p"):
        with on.span("q", "semantic"):
            pass
    assert [(s.name, s.parent, s.trace_id) for s in on.spans] == [("pass", None, "p"), ("q", 0, "p")]


def test_proc_tree_counts_python_descendants_only():
    from probe import ProcTree

    py = subprocess.Popen([sys.executable, "-c", "import time; x = [0] * 10**7; time.sleep(5)"])
    other = subprocess.Popen(["sleep", "5"])
    try:
        deadline = time.time() + 5
        while time.time() < deadline:
            r = ProcTree(os.getpid()).read()
            if r["python_rss"] > 50 * 2**20:
                break
            time.sleep(0.1)
        assert 50 * 2**20 < r["python_rss"] < 1024 * 2**20
        assert r["jvm_rss"] > 0 and r["jvm_cpu_s"] > 0
    finally:
        py.kill()
        other.kill()
        py.wait(timeout=10)
        other.wait(timeout=10)


# ------------------------------------------------------------ correctness


def _corrupt(df):
    bad = df.copy()
    col = next(c for c in bad.columns if bad[c].dtype.kind in "if")
    bad.loc[bad.index[0], col] = bad[col].iloc[0] + 1
    return bad


def test_status_check_flags_a_failed_model():
    assert checks.status_problems({"orders": {"status": "ok"}}) == []
    assert checks.status_problems({"orders": {"status": "test_failed"}})


@pytest.mark.parametrize("name", ["orders", "customers", "time_analytics"])
def test_mart_check_flags_a_corrupted_mart(con, name):
    good = con.sql(checks.mart_sql(name)).df()
    assert checks.frame_problems(con, checks.mart_sql(name), good, name) == []
    assert checks.frame_problems(con, checks.mart_sql(name), _corrupt(good), name)


def test_fast_equality_agrees_with_canonical_rows(con):
    import pandas as pd

    from dbt_jaffleshop_spark.testing.parity import canonical_rows

    good = con.sql(checks.mart_sql("supplies")).df()
    shuffled = good.sample(frac=1, random_state=0)
    assert checks._identical(shuffled, good)
    assert not checks._identical(_corrupt(good), good)
    # equal values whose canonical text differs are not taken as equal
    ints = pd.DataFrame({"x": [1, 2]})
    floats = pd.DataFrame({"x": [1.0, 2.0]})
    assert not checks._identical(ints, floats)
    assert canonical_rows(ints) != canonical_rows(floats)
    assert checks.problems(ints, floats, "t")
    assert checks._identical(ints, ints.astype("int32"))
    zero, negzero = pd.DataFrame({"x": [0.0]}), pd.DataFrame({"x": [-0.0]})
    assert not checks._identical(zero, negzero) and checks.problems(zero, negzero, "t")


def test_saved_query_check_flags_a_corrupted_result(con):
    sql = checks.saved_query_sql("sq_order_metrics_daily")
    good = con.sql(sql).df()
    assert checks.frame_problems(con, sql, good, "q") == []
    assert checks.frame_problems(con, sql, _corrupt(good), "q")


def test_served_requests_are_checked_against_the_oracle(con):
    from workloads import Warehouse

    wh = Warehouse(None, "", "", 7, Tracer(False), None)
    q = "sq_supply_chain"
    rng = ["1996-01-01", "1996-06-30"]
    n = int(con.sql(checks.scan_count_sql("orders", tuple(rng))).fetchone()[0])
    good = [
        {"kind": "saved_query", "name": q, "ok": True, "out": con.sql(checks.saved_query_sql(q)).df()},
        {"kind": "scan", "name": "orders", "range": rng, "ok": True, "out": n},
        {"kind": "tests", "name": "orders", "ok": True, "out": 0},
        {"kind": "show", "name": "customers", "ok": True, "out": 20},
    ]
    assert wh.check_served(con, good) == 0, wh.problems
    bad = [
        {**good[0], "out": _corrupt(good[0]["out"])},
        {**good[1], "out": n + 1},
        {**good[2], "out": 3},
        {**good[3], "out": 19},
    ]
    assert wh.check_served(con, bad) == 4


def test_dedup_check_matches_the_sql_oracle_and_flags_corruption(con):
    from dbt_jaffleshop_spark.llm.dedup import _minhash_oracle, components_sql_tail

    hi = gen.corpus_plan(7)["delta"][1]
    got = checks.dedup_expected(con, hi)
    pairs = _minhash_oracle(star=True, source=f"(SELECT * FROM documents WHERE doc_id <= {hi})")
    sql = f"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ({pairs}) mh),
{components_sql_tail("doc_a", "doc_b", "doc_id")}"""
    assert len(got) > 0
    assert checks.frame_problems(con, sql, got, "dedup") == []
    assert checks.frame_problems(con, sql, _corrupt(got), "dedup")


def test_maintained_table_and_stream_checks_flag_corruption(con, inputs):
    for sql in (checks.merge_sql(os.path.join(inputs, "maintain")), checks.stream_sql()):
        good = con.sql(sql).df()
        assert len(good) > 0
        assert checks.frame_problems(con, sql, good, "t") == []
        assert checks.frame_problems(con, sql, _corrupt(good), "t")


def test_merge_oracle_applies_upserts_and_the_restatement(con, inputs):
    m = os.path.join(inputs, "maintain")
    got = con.sql(checks.merge_sql(m)).df().set_index("order_id")
    upd = con.sql(f"SELECT * FROM read_parquet('{m}/updates.parquet')").df()
    res = con.sql(f"SELECT * FROM read_parquet('{m}/restate.parquet')").df()
    fact = con.sql(f"SELECT count(*) FROM read_parquet('{m}/fact.parquet')").fetchone()[0]
    new_keys = set(upd.order_id) - set(con.sql(
        f"SELECT order_id FROM read_parquet('{m}/fact.parquet')").df().order_id)
    assert len(got) == fact + len(new_keys) and got.index.is_unique
    for r in res.itertuples():
        assert got.loc[r.order_id, "total_cents"] == r.total_cents


@pytest.mark.parametrize("op", sorted(op for ops in CURATE_OPS.values() for op in ops))
def test_operator_check_flags_a_corrupted_result(inputs, op):
    c = checks.connect(inputs, {
        "documents": os.path.join(inputs, "curate", "documents.parquet"),
        "embeddings": os.path.join(inputs, "curate", "embeddings.parquet"),
    })
    good = c.sql(checks.operator_sql(op)).df()
    assert checks.frame_problems(c, checks.operator_sql(op), good, op) == []
    assert checks.frame_problems(c, checks.operator_sql(op), _corrupt(good), op)
    c.close()


# -------------------------------------------------------------- entry point


def test_run_fails_without_the_engine_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "warehouse", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
