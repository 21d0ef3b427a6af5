"""Tests of the benchmark's pure helpers (no Spark).

    python3 -m pytest cdcbench -q
"""

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import helpers  # noqa: E402


def test_tail_percentile_leaves_ten_samples_beyond():
    assert helpers.tail_percentile(9) is None
    assert helpers.tail_percentile(10) == 0
    assert helpers.tail_percentile(20) == 50
    assert helpers.tail_percentile(40) == 75
    assert helpers.tail_percentile(100) == 90
    assert helpers.tail_percentile(1000) == 99
    for n in range(10, 500):
        p = helpers.tail_percentile(n)
        assert n * (100 - p) / 100 >= 10
        assert n * (100 - (p + 1)) / 100 < 10


def test_percentile_nearest_rank():
    vals = [float(v) for v in range(1, 101)]
    assert helpers.percentile(vals, 50) == 50.0
    assert helpers.percentile(vals, 90) == 90.0
    assert helpers.percentile(vals, 0) == 1.0
    assert helpers.percentile(vals, 100) == 100.0


def test_cycle_and_window_are_whole_compaction_cycles():
    assert helpers.cycle_batches(16) == 17
    assert helpers.cycle_batches(1) == 2
    with pytest.raises(ValueError):
        helpers.cycle_batches(0)
    assert helpers.window_cycles(15, 25) == 1  # never below one cycle
    assert helpers.window_cycles(60, 13) == 5
    assert helpers.window_cycles(15, 13) == helpers.window_cycles(15, 13)


def test_window_compactions_count_every_cycle_once():
    # threshold 16: compaction lands on every 17th batch of a fresh table
    assert helpers.window_compactions(0, 17, 16) == 1
    assert helpers.window_compactions(17, 34, 16) == 2
    # a window of whole cycles holds the same count wherever it starts
    for warm in range(0, 40):
        assert helpers.window_compactions(warm, 2 * 17, 16) == 2
        assert helpers.window_compactions(warm, 2, 1) == 1
        assert helpers.window_compactions(warm, 3, 2) == 1


def test_content_digest_is_order_free_and_sensitive():
    rows = [("u1", 10, "a", "en", 5), ("u2", 11, "b", "de", 7)]
    d = helpers.content_digest(rows)
    assert d == helpers.content_digest(list(reversed(rows)))
    assert d.startswith("2:")
    for i in range(1, 5):
        bad = [list(r) for r in rows]
        bad[0][i] = bad[0][i] + (1 if isinstance(bad[0][i], int) else "x")
        assert helpers.content_digest([tuple(r) for r in bad]) != d
    assert helpers.content_digest(rows[:1]) != d


def test_iqr_share_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.4]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert helpers.iqr_share(vals) == pytest.approx((q3 - q1) / statistics.median(vals))


def test_benchmark_json_matches_the_runner():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    assert [w["name"] for w in bench["workloads"]] == sorted(workloads)
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
