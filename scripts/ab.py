"""A/B driver for the repository benchmark (``perfbench/run.py``).

Exports two git revisions into fresh directories (``git archive``, so
the repository's own checkout and git metadata are left alone), then
runs the benchmark on both for seeds 1..N, each run as long as
BENCHMARK.json's ``run_seconds``. Each seed is one pair; the side
that runs first alternates from pair to pair, so a slow spell on the
host does not always land on the same side. Each run is its own process
(its own JVM), with the benchmark's own settings.

For every workload x end-to-end metric in BENCHMARK.json it prints each
side's median and quartiles, the number of pairs the change won (ties
count for neither side), and whether the change meets the gain rule of
the choosing-metrics guide (section 8): at least 10 pairs ran, the
change won at least 9/10 of them, it failed no more runs than the
parent did, and the medians differ by more than the distance between
the parent's own quartiles. Wins count over every pair run: a pair
whose change run reported no value counts as lost. Runs that failed a
check are listed; their metrics still enter the medians. Below the
metrics, a ``steal%`` row gives each side's median and quartiles of
host CPU steal (each run's median over its steps, read from the run's
artifact), so a pair that ran in a noisy window can be told apart.

    python scripts/ab.py HEAD~1 HEAD --workload crawl_skewed --pairs 10

All run records go to ``<work>/ab.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the share of pairs the change must win to claim a gain
WIN_SHARE = 0.9
#: the fewest pairs a gain can be claimed on
MIN_PAIRS = 10


def export(revision: str, dest: str) -> str:
    """The committed tree of ``revision`` in ``dest``; returns its sha."""
    sha = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--verify", f"{revision}^{{commit}}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    os.makedirs(dest)
    archive = subprocess.Popen(
        ["git", "-C", REPO, "archive", sha], stdout=subprocess.PIPE
    )
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise RuntimeError(f"git archive {sha} failed")
    return sha


def run_steal(tree: str, stdout: str) -> float | None:
    """Median host steal% over a run's steps, from the artifact that
    the run names on its ``# ... artifact=<path>`` line (the per-step
    ``steal_pct`` behind its ``steal_pct_per_step``)."""
    for line in stdout.splitlines():
        if line.startswith("# ") and " artifact=" in line:
            path = os.path.join(tree, line.rsplit(" artifact=", 1)[1].strip())
            with open(path) as f:
                steps = json.load(f)["steps"]
            return statistics.median(s["steal_pct"] for s in steps) if steps else None
    return None


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``tree``: its last stdout line is the JSON
    result. A run that crashes counts as incorrect with no metrics."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "metrics": {}, "error": proc.stderr[-2000:]}
    result["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    result["steal_pct"] = run_steal(tree, proc.stdout)
    return result


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, median, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, median, q3


def summarize(pairs: list[dict], metric: str, higher_is_better: bool) -> dict | None:
    """Each side's median and quartiles of one metric over the runs
    that reported it, the change's wins over all pairs, and the gain
    verdict."""
    base = [p["base"]["metrics"][metric] for p in pairs if metric in p["base"]["metrics"]]
    change = [p["change"]["metrics"][metric] for p in pairs if metric in p["change"]["metrics"]]
    if not base or not change:
        return None
    sign = 1 if higher_is_better else -1
    wins = 0
    for p in pairs:
        b = p["base"]["metrics"].get(metric)
        c = p["change"]["metrics"].get(metric)
        if c is not None and (b is None or sign * (c - b) > 0):
            wins += 1
    failed = {
        side: sum(1 for p in pairs if not p[side]["correct"])
        for side in ("base", "change")
    }
    b_q1, b_med, b_q3 = quartiles(base)
    c_q1, c_med, c_q3 = quartiles(change)
    return {
        "base": {"median": b_med, "q1": b_q1, "q3": b_q3},
        "change": {"median": c_med, "q1": c_q1, "q3": c_q3},
        "ratio": c_med / b_med if b_med else None,
        "wins": wins,
        "pairs": len(pairs),
        "failed": failed,
        "gain": len(pairs) >= MIN_PAIRS
        and wins >= WIN_SHARE * len(pairs)
        and failed["change"] <= failed["base"]
        and sign * (c_med - b_med) > b_q3 - b_q1,
    }


def steal_summary(pairs: list[dict]) -> dict | None:
    """Each side's median and quartiles of per-run host steal%, over the
    runs that reported it; None when a side has none."""
    row = {}
    for side in ("base", "change"):
        values = [p[side]["steal_pct"] for p in pairs
                  if p[side].get("steal_pct") is not None]
        if not values:
            return None
        q1, median, q3 = quartiles(values)
        row[side] = {"median": median, "q1": q1, "q3": q3}
    return row


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", help="parent revision")
    ap.add_argument("change", help="revision that claims the change")
    ap.add_argument("--workload", action="append", required=True,
                    help="benchmark workload; repeat for several")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--work", default=None,
                    help="directory for the two exports and ab.json")
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")

    work = args.work or tempfile.mkdtemp(prefix="ab_")
    trees = {side: os.path.join(work, side) for side in ("base", "change")}
    shas = {side: export(getattr(args, side), trees[side]) for side in trees}
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]

    record = {"shas": shas, "seconds": seconds, "workloads": {}}
    for workload in args.workload:
        pairs = []
        for i in range(args.pairs):
            seed = i + 1
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(trees[side], workload, seed, seconds)
            pairs.append(pair)
            print(f"# {workload} seed={seed} first={order[0]} "
                  f"correct base={pair['base']['correct']} "
                  f"change={pair['change']['correct']}", flush=True)
        table = {
            m["name"]: summarize(pairs, m["name"], m["better"] == "higher")
            for m in bench["end_to_end"]
        }
        steal = steal_summary(pairs)
        record["workloads"][workload] = {"pairs": pairs, "table": table,
                                         "steal_pct": steal}

        print(f"\n{workload}: base {shas['base'][:10]} vs change {shas['change'][:10]}, "
              f"{len(pairs)} pairs, {seconds:g} s runs")
        print(f"{'metric':24s} {'base median [q1, q3]':>30s} "
              f"{'change median [q1, q3]':>30s} {'ratio':>7s} {'won':>6s}  gain")
        for name, row in table.items():
            if row is None:
                print(f"{name:24s} (not reported)")
                continue
            b, c = row["base"], row["change"]
            ratio = "-" if row["ratio"] is None else f"{row['ratio']:.3f}"
            print(f"{name:24s} {b['median']:12.5g} [{b['q1']:.5g}, {b['q3']:.5g}] "
                  f"{c['median']:12.5g} [{c['q1']:.5g}, {c['q3']:.5g}] "
                  f"{ratio:>7s} {row['wins']:>2d}/{row['pairs']:<3d}  "
                  f"{'yes' if row['gain'] else 'no'}")
        if steal is None:
            print(f"{'steal%':24s} (not reported)")
        else:
            b, c = steal["base"], steal["change"]
            print(f"{'steal%':24s} {b['median']:12.3g} [{b['q1']:.3g}, {b['q3']:.3g}] "
                  f"{c['median']:12.3g} [{c['q1']:.3g}, {c['q3']:.3g}]")
        failed = [
            f"{side}@seed{p['seed']}"
            for p in pairs for side in ("base", "change") if not p[side]["correct"]
        ]
        if failed:
            print(f"runs that failed a check: {', '.join(failed)}")

    out = os.path.join(work, "ab.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print(f"\nrecords: {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
