"""Pure helpers of the bench scripts: the A/B gain rule of scripts/ab.py
and the argument guard of scripts/bench_flows.py."""

import argparse
import importlib.util
import os

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


def _load(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(SCRIPTS, f"{name}.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _pairs(base, change, metric="docs_per_s"):
    """Pairs of correct runs; a ``None`` value is a run without metrics."""
    def run(value):
        return {"correct": True, "metrics": {} if value is None else {metric: value}}
    return [{"base": run(b), "change": run(c)} for b, c in zip(base, change)]


def test_ab_gain_needs_nine_tenths_of_pairs_and_gap_beyond_parent_iqr():
    ab = _load("ab")
    base = [10.0, 11.0, 12.0, 10.5, 11.5, 10.0, 11.0, 12.0, 10.5, 11.5]
    row = ab.summarize(_pairs(base, [b * 1.4 for b in base]), "docs_per_s", True)
    assert row["wins"] == 10 and row["pairs"] == 10 and row["gain"]

    # 8/10 wins is short of 9/10, however large the gap
    change = [b * 1.4 for b in base[:8]] + base[8:]
    row = ab.summarize(_pairs(base, change), "docs_per_s", True)
    assert row["wins"] == 8 and not row["gain"]  # ties count for neither

    # every pair won, but the gap is inside the parent's own IQR
    row = ab.summarize(_pairs(base, [b + 0.1 for b in base]), "docs_per_s", True)
    assert row["wins"] == 10 and not row["gain"]


def test_ab_gain_needs_ten_pairs():
    ab = _load("ab")
    base = [10.0, 11.0, 12.0, 10.5]
    row = ab.summarize(_pairs(base, [b * 1.4 for b in base]), "docs_per_s", True)
    assert row["wins"] == 4 and row["pairs"] == 4 and not row["gain"]


def test_ab_pair_without_change_metric_counts_as_lost():
    ab = _load("ab")
    base = [10.0, 11.0, 12.0, 10.5, 11.5, 10.0, 11.0, 12.0, 10.5, 11.5]
    change = [b * 1.4 for b in base[:8]] + [None, None]
    row = ab.summarize(_pairs(base, change), "docs_per_s", True)
    assert row["wins"] == 8 and row["pairs"] == 10 and not row["gain"]

    # a parent run without the metric is a pair the change won
    row = ab.summarize(_pairs([None] + base[1:], [b * 1.4 for b in base]),
                       "docs_per_s", True)
    assert row["wins"] == 10 and row["gain"]


def test_ab_gain_void_when_change_fails_more_runs():
    ab = _load("ab")
    base = [10.0, 11.0, 12.0, 10.5, 11.5, 10.0, 11.0, 12.0, 10.5, 11.5]
    pairs = _pairs(base, [b * 1.4 for b in base])
    pairs[3]["change"]["correct"] = False
    row = ab.summarize(pairs, "docs_per_s", True)
    assert row["wins"] == 10 and row["failed"] == {"base": 0, "change": 1}
    assert not row["gain"]

    pairs[5]["base"]["correct"] = False  # as many failures on both sides
    assert ab.summarize(pairs, "docs_per_s", True)["gain"]


def test_ab_lower_is_better_and_missing_metric():
    ab = _load("ab")
    base = [2.0, 2.1, 2.2, 2.0, 2.1, 2.2, 2.0, 2.1, 2.2, 2.0]
    row = ab.summarize(_pairs(base, [b / 2 for b in base], "setup_s"), "setup_s", False)
    assert row["gain"] and row["ratio"] < 1
    assert ab.summarize(_pairs(base, base, "setup_s"), "docs_per_s", True) is None


def test_bench_flows_rejects_fewer_than_two_users():
    bench_flows = _load("bench_flows")
    assert bench_flows._at_least_two("2") == 2
    with pytest.raises(argparse.ArgumentTypeError):
        bench_flows._at_least_two("1")


def test_ab_steal_summary_from_run_artifacts(tmp_path):
    ab = _load("ab")
    os.makedirs(tmp_path / ".bench_work")
    artifact = tmp_path / ".bench_work" / "crawl_standing-seed1-trace0.json"
    artifact.write_text('{"steps": [{"steal_pct": 4.0}, {"steal_pct": 0.5}, '
                        '{"steal_pct": 1.0}]}')
    stdout = ("# crawl_standing seed=1 steps=3 steal_pct_per_step=[4.0, 0.5, 1.0] "
              "artifact=.bench_work/crawl_standing-seed1-trace0.json\n{}\n")
    assert ab.run_steal(str(tmp_path), stdout) == 1.0
    assert ab.run_steal(str(tmp_path), "{}\n") is None  # a crashed run

    pairs = _pairs([10.0] * 4, [11.0] * 4)
    for p, (b, c) in zip(pairs, [(1.0, 0.0), (2.0, 8.0), (3.0, 0.5), (4.0, None)]):
        p["base"]["steal_pct"], p["change"]["steal_pct"] = b, c
    row = ab.steal_summary(pairs)
    assert row["base"]["median"] == 2.5 and row["change"]["median"] == 0.5
    assert row["change"]["q1"] == 0.25 and row["change"]["q3"] == 4.25

    for p in pairs:
        p["change"]["steal_pct"] = None
    assert ab.steal_summary(pairs) is None
