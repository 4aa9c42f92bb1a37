"""Unit tests for bench.py's adaptive min-of-N — the harness that
every recorded number flows through. Round 6 lost its whole artifact
to harness behavior (stdout contract), so the harness itself is now
test-pinned: convergence stop, single extension on PERSISTING
disagreement (ADVICE r6: a lone fast outlier must not extend), and
the per-query wall budget (VERDICT r6 item 6)."""

import sys
from pathlib import Path

# bench.py sits at the repository root, one level above this file
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import _min_of_n


def _run(walls, **kw):
    import bench

    orig = bench._timed_with_steal
    seq = iter(walls)
    bench._timed_with_steal = lambda fn: (next(seq), 0.5)
    try:
        runs, steals = _min_of_n(lambda: None, **kw)
    finally:
        bench._timed_with_steal = orig
    return runs


def test_converges_at_min_runs_when_best_two_agree():
    runs = _run([1.0, 1.05, 1.1, 9, 9], min_runs=3, cap=6, extended_cap=9)
    assert runs == [1.0, 1.05, 1.1]


def test_fast_outlier_does_not_extend_past_original_cap():
    # one fast outlier among agreeing-slow runs: best two are 0.5 and
    # 3.0 (disagree), spread is huge — round-6 rule extended to 9; the
    # round-7 rule extends ONLY at the cap, and here the best two
    # still disagree at 6, so exactly one extension happens, bounded
    walls = [3.0, 0.5, 3.1, 3.0, 3.2, 3.1, 0.55, 9, 9, 9]
    runs = _run(walls, min_runs=3, cap=6, extended_cap=7)
    # run 7 (0.55) makes best-two (0.5, 0.55) agree -> stop at 7
    assert len(runs) == 7


def test_extension_happens_once():
    walls = [5, 1, 5, 5, 5, 5, 5, 5, 5, 5, 5, 5]
    runs = _run(walls, min_runs=3, cap=4, extended_cap=6)
    assert len(runs) == 6  # 4 -> extended to 6, never to 8


def test_budget_stops_unconverged_window():
    # every run 20s, never converging (alternating 20/30 best-two gap
    # > 20%): budget 50s stops after min_runs even though cap allows 9
    walls = [20, 30, 20.0 + 9, 30, 20, 30, 20, 30, 20]
    runs = _run(walls, min_runs=3, cap=6, extended_cap=9, budget_s=50.0)
    assert len(runs) == 3 and sum(runs) >= 50.0


def test_budget_never_preempts_min_runs():
    runs = _run([40, 45, 50, 9, 9], min_runs=3, cap=6, extended_cap=9,
                budget_s=25.0)
    assert len(runs) == 3
