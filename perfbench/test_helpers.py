"""Tests of the benchmark's own helpers; no Spark needed.

    python3 -m pytest perfbench -q
"""

import json
import math
import os

import numpy as np
import pandas as pd
import pytest

import common
import lww
import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _batch(keys, vals, n):
    return pd.DataFrame({"k": np.array(keys, dtype=np.int64),
                         "v": np.array(vals, dtype=float),
                         "n": np.full(len(keys), n, dtype=np.int64)})


def _live(model):
    f = model.frame()
    return dict(zip(f["k"].tolist(), f["v"].tolist()))


def test_lww_last_write_wins():
    m = lww.LwwModel("k", ["v", "n"])
    m.write(_batch([1, 2, 3], [10, 20, 30], 0))
    m.write(_batch([2, 4], [21, 40], 1))
    assert _live(m) == {1: 10, 2: 21, 3: 30, 4: 40}


def test_lww_delete_matches_current_value_only():
    m = lww.LwwModel("k", ["v", "n"])
    m.write(_batch([1, 2], [1.0, 50.0], 0))
    m.write(_batch([2], [1.0], 1))      # newest value of key 2 matches
    m.write(_batch([1], [60.0], 2))     # newest value of key 1 does not
    removed = m.delete(lambda f: f["v"] < 5.0)
    assert removed == 1
    assert _live(m) == {1: 60.0}


def test_lww_write_after_delete_reinserts():
    m = lww.LwwModel("k", ["v", "n"])
    m.write(_batch([1, 2, 3], [1, 2, 3], 0))
    m.write(_batch([3], [4], 1))
    assert m.delete(lambda f: f["n"] < 1) == 2
    m.write(_batch([1], [7], 2))
    assert _live(m) == {1: 7, 3: 4}
    assert len(m) == 2


def test_lww_rejects_repeated_coordinate_in_one_fragment():
    m = lww.LwwModel("k", ["v", "n"])
    with pytest.raises(ValueError):
        m.write(_batch([1, 1], [1, 2], 0))


def test_lww_frame_is_sorted_by_key():
    m = lww.LwwModel("k", ["v", "n"])
    m.write(_batch([5, 1, 3], [1, 2, 3], 0))
    assert m.frame()["k"].tolist() == [1, 3, 5]


def test_fixed_ops_runs_whole_cycles_at_least_one():
    cycles = ([(c, i) for i in range(3)] for c in range(100))
    assert common.fixed_ops(1, 10, cycles) == [(0, 0), (0, 1), (0, 2)]
    cycles = ([(c, i) for i in range(3)] for c in range(100))
    assert len(common.fixed_ops(41, 10, cycles)) == 12


def test_in_turn_alternates_which_run_goes_first():
    runs = ["untraced", "traced"]
    assert [common.in_turn(i, runs)[0] for i in range(4)] == [
        "untraced", "traced", "untraced", "traced"]
    assert common.in_turn(1, ["only"]) == ["only"]


@pytest.mark.parametrize("n, want", [
    (19, None), (20, 50.0), (40, 75.0), (100, 90.0), (199, 90.0),
    (200, 95.0), (1000, 99.0), (2000, 99.5), (10_000, 99.9)])
def test_tail_is_highest_percentile_with_ten_beyond(n, want):
    xs = list(range(n, 0, -1))          # any order
    got = metrics.tail(xs)
    if want is None:
        assert got is None
        return
    p, value = got
    assert p == want
    assert sum(1 for x in xs if x > value) >= 10
    # the next percentile up has fewer than ten samples beyond it
    higher = [q for q in metrics.TAIL_LADDER if q > p]
    if higher:
        rank = math.ceil(round(min(higher) / 100 * n, 9))
        assert n - rank < 10


@pytest.mark.parametrize("name", [
    "setup_s", "op_p50_ms", "pipeline.kn3_ppl.build_ms", "a", "9x",
    "x" * 64, "exec.shuffle-read"])
def test_valid_names(name):
    assert metrics.check_name(name) == name


@pytest.mark.parametrize("name", [
    "", "_x", ".x", "a b", "x" * 65, "tail/ms", "näme", "a\n", None])
def test_invalid_names(name):
    with pytest.raises(ValueError):
        metrics.check_name(name)


def test_units():
    for u in ("ms", "s", "1/s", "count", "bytes", "MB", "ratio", "%"):
        assert metrics.check_unit(u) == u
    for u in ("", "m s", "x" * 17):
        with pytest.raises(ValueError):
            metrics.check_unit(u)


def test_catalogue_names_are_valid_and_unique():
    names = [m[0] for m in metrics.END_TO_END + metrics.PER_LAYER]
    assert len(names) == len(set(names))
    for m in metrics.END_TO_END + metrics.PER_LAYER:
        metrics.check_name(m[0])
        metrics.check_unit(m[1])
        assert m[2] in ("lower", "higher")
    assert 1 <= len(metrics.PER_LAYER) <= 128
    assert all(0 < m[3] <= 0.25 for m in metrics.END_TO_END)


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(metrics.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in spec["end_to_end"]] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == list(metrics.PER_LAYER)


def test_digest_ignores_row_order_and_integer_width():
    a = pd.DataFrame({"k": np.array([1, 2, 3], dtype=np.int32),
                      "v": [0.5, 1.5, 2.5], "s": ["x", "y", "z"]})
    b = a.iloc[::-1].reset_index(drop=True)
    b["k"] = b["k"].astype(np.int64)
    assert metrics.digest(a, ["k", "v", "s"]) == metrics.digest(b, ["k", "v", "s"])
    c = a.copy()
    c.loc[1, "v"] = 1.5000001
    assert metrics.digest(a, ["k", "v", "s"]) != metrics.digest(c, ["k", "v", "s"])
    assert metrics.digest(a.iloc[:0], ["k"]) == (0, 0)


def test_result_line_requires_exactly_the_catalogue():
    cat = (("a_ms", "ms", "lower", 0.1), ("b", "count", "higher", 0.1))
    line = json.loads(metrics.result_line(True, 3, 0, {"a_ms": 1.5, "b": 2}, cat))
    assert line == {"correct": True, "attempted": 3, "failed": 0, "metrics": {
        "a_ms": {"value": 1.5, "unit": "ms"}, "b": {"value": 2.0, "unit": "count"}}}
    with pytest.raises(ValueError):
        metrics.result_line(True, 1, 0, {"a_ms": 1.0}, cat)
    with pytest.raises(ValueError):
        metrics.result_line(True, 1, 0, {"a_ms": 1.0, "b": 1, "c": 1}, cat)
    with pytest.raises(ValueError):
        metrics.result_line(True, 1, 0, {"a_ms": float("nan"), "b": 1}, cat)
