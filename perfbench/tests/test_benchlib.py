"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q

The listener test starts one small Spark job through the harness, so it
needs the harness build (made on first use) and a Spark install.
"""
import datetime
import decimal
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import benchlib  # noqa: E402


def load_compare():
    path = os.path.join(ROOT, "tools", "compare.py")
    if not os.path.exists(path):
        pytest.skip("tools/compare.py is not in this checkout")
    spec = importlib.util.spec_from_file_location("compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# -- tail percentile ---------------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert benchlib.tail_percentile(list(range(10))) is None
    p, value, beyond = benchlib.tail_percentile([float(x) for x in range(11)])
    assert (p, value, beyond) == (9, 0.0, 10)


def test_tail_is_highest_such_percentile():
    xs = [float(x) for x in range(1, 101)]
    assert benchlib.tail_percentile(xs) == (90, 90.0, 10)
    xs = [float(x) for x in range(1, 1001)]
    assert benchlib.tail_percentile(xs) == (99, 990.0, 10)
    # Every smaller sample count still leaves at least ten beyond.
    for n in range(11, 300):
        p, value, beyond = benchlib.tail_percentile(list(range(n)))
        assert beyond >= 10
        nxt = benchlib.tail_percentile(list(range(n)), beyond=11)
        assert nxt is None or nxt[0] <= p


def test_tail_ignores_input_order():
    xs = [3.0, 1.0, 7.0, 2.0, 9.0, 4.0, 8.0, 6.0, 5.0, 0.0, 10.0, 11.0]
    assert benchlib.tail_percentile(xs) == benchlib.tail_percentile(sorted(xs))


# -- seeded order ------------------------------------------------------------

NAMES = ["a", "b", "c", "d", "e", "f"]


def test_permutation_is_deterministic():
    assert benchlib.permutation(NAMES, 1, 0) == ["c", "e", "d", "b", "f", "a"]
    assert benchlib.permutation(NAMES, 2, 0) == ["f", "d", "b", "e", "a", "c"]
    assert benchlib.permutation(NAMES, 1, 1) == ["e", "a", "b", "d", "c", "f"]
    for seed in range(20):
        once = benchlib.permutation(NAMES, seed, "warmup")
        assert once == benchlib.permutation(list(reversed(NAMES)), seed, "warmup")
        assert sorted(once) == NAMES


def test_permutation_depends_on_seed():
    names = [f"q{i}" for i in range(20)]
    orders = {tuple(benchlib.permutation(names, s, 0)) for s in range(10)}
    assert len(orders) == 10


def test_traced_runs_balance_the_pass_kinds():
    assert benchlib.pass_kinds("mr-sql", 21, 0) == [False] * 3
    assert benchlib.pass_kinds("mr-sql", 28, 0) == [False] * 4
    assert benchlib.pass_kinds("stream-replay", 28, 0) == [False] * 4
    assert benchlib.pass_kinds("mr-sql", 21, 1) == [False, True, False, True, False]
    assert benchlib.pass_kinds("mr-sql", 7, 1) == [False, True, False, True, False]
    for seconds in (7, 21, 28, 60):
        kinds = benchlib.pass_kinds("mr-sql", seconds, 1)
        traced = [i for i, t in enumerate(kinds) if t]
        untraced = [i for i, t in enumerate(kinds) if not t]
        assert kinds[0] is False and len(untraced) == len(traced) + 1
        assert sum(traced) / len(traced) == sum(untraced) / len(untraced)


def test_workloads_are_permuted_whole():
    for names in benchlib.WORKLOADS.values():
        assert names and len(set(names)) == len(names)
        assert sorted(benchlib.permutation(names, 7, 3)) == sorted(names)


def test_every_workload_query_has_an_expected_hash():
    with open(os.path.join(BENCH, "expected_sf0.1.json")) as f:
        expected = json.load(f)
    for names in benchlib.WORKLOADS.values():
        for name in names:
            assert "hash" in expected[name], name


# -- result hash -------------------------------------------------------------

FIXTURE = [None, float("nan"), 1.0, -0.0, 2.5, 1 / 3, 1e20, 2.0**60, 7, -3,
           True, "x", "", decimal.Decimal("1.50"),
           datetime.datetime(2024, 1, 2, 3, 4, 5), pd.Timestamp("2024-01-02"),
           [1, 2], b"ab"]


def test_hash_agrees_with_compare_py_on_fixture():
    compare = load_compare()
    df = pd.DataFrame({"v": pd.Series(FIXTURE, dtype=object),
                       "k": range(len(FIXTURE))})
    rows = sorted((compare.norm(k), compare.norm(v)) for k, v in enumerate(FIXTURE))
    blob = json.dumps([["k", "v"], [list(r) for r in rows]], separators=(",", ":"))
    assert benchlib.result_hash(df) == {
        "rows": len(FIXTURE), "hash": hashlib.sha256(blob.encode()).hexdigest()}


def test_hash_is_order_insensitive_like_compare_py():
    compare = load_compare()
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0], "s": ["x", "y", "z"]})
    b = a.iloc[[2, 0, 1]][["v", "s", "k"]].reset_index(drop=True)
    c = a.copy()
    c.loc[1, "s"] = "w"

    def compare_rows(df):
        cols = sorted(df.columns)
        return cols, sorted(tuple(compare.norm(v) for v in r)
                            for r in df[cols].itertuples(index=False))

    assert compare_rows(a) == compare_rows(b)
    assert benchlib.result_hash(a) == benchlib.result_hash(b)
    assert compare_rows(a) != compare_rows(c)
    assert benchlib.result_hash(a) != benchlib.result_hash(c)
    assert benchlib.result_hash(a)["rows"] == 3


# -- metric names ------------------------------------------------------------

def test_benchmark_json_names_match_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(benchlib.WORKLOADS)
    record = {"heap_peak_mb": 1.0, "traced": [], "samples": [
        {"qid": f"q{i}", "name": f"q{i % 2}", "phase": "timed", "traced": i >= 2,
         "pass": i // 2, "s": 1.0, "w0": 0, "w1": 1000, "gc": 0, "full_gc": 0}
        for i in range(4)]}
    e2e, _ = benchlib.end_to_end(record, 1.0)
    layers = benchlib.per_layer(record, 1.0, 4)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        {k: benchlib.unit(k) for k in e2e}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        {k: benchlib.unit(k) for k in layers}


def test_gc_counts_split_samples_from_releases():
    record = {"gc_total": 9, "full_gc_total": 4, "samples": [
        {"phase": "warmup", "gc": 5, "full_gc": 1, "release_full_gc": 1},
        {"phase": "timed", "gc": 2, "full_gc": 0, "release_full_gc": 1},
        {"phase": "timed", "gc": 1, "full_gc": 1, "release_full_gc": 0}]}
    assert benchlib.gc_counts(record) == {
        "run": 9, "run_full": 4, "in_samples": 3, "full_in_samples": 1,
        "full_in_releases": 1}


# -- listener sums -----------------------------------------------------------

def test_listener_sums_match_a_two_stage_job():
    import run
    if not shutil.which("java") or not shutil.which("sbt"):
        pytest.skip("needs java and sbt")
    env = dict(os.environ, SPARK_HOME=run.spark_home())
    cp = run.build(env)
    with tempfile.TemporaryDirectory(dir=BENCH) as tmp:
        out = os.path.join(tmp, "selftest.json")
        proc = run.java(cp, ["selftest", out], tmp, env=env,
                        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        assert proc.wait(timeout=170) == 0
        with open(out) as f:
            m = json.load(f)
    assert m["rows"] == 10
    assert (m["exec.jobs"], m["exec.stages"], m["exec.tasks"]) == (1, 2, 7)
    assert m["exec.shuffle_write_mb"] > 0
    assert m["exec.shuffle_read_mb"] == pytest.approx(m["exec.shuffle_write_mb"])
    assert m["exec.task_run_s"] >= 0 and m["exec.task_wait_s"] >= 0
