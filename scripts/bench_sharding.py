"""A/B: single-forest vs k-shard flagship at the same page count.

Forests are built and compiled OUTSIDE the timed region (driver-side
insert of 1e6 expressions costs ~60s one-time and would otherwise
dominate); the timed region is the distributed pipeline only, matching
bench.py's convention. Levels interleave inside ONE JVM (min-of-N per
level) so host CPU-steal streaks hit both sides alike. Prints one JSON
line.

Usage: python scripts/bench_sharding.py [n_pages] [n_subs] [rounds] [shard_list] [workload] [isolate]
e.g.   python scripts/bench_sharding.py 2000000 1000000 2 1,4
       python scripts/bench_sharding.py 500000 1000000 2 2,8,auto diverse

``shard_list`` may include ``auto`` (resolved via count_forest_nodes ->
choose_shards, the same path run_pipeline(n_shards="auto") takes).
``workload`` is standing (default) / skewed / diverse; ``diverse`` is
the >= 1M-DISTINCT-root regime (VERDICT r5 item 6). When the list has
>= 2 entries, the first two entries' outputs are compared row-for-row
in-run (exit nonzero on mismatch) — the sharded union must be exactly
the single/other-k answer at ANY k.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_subs = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    raw_shards = sys.argv[4].split(",") if len(sys.argv) > 4 else ["1", "2", "4"]
    workload = sys.argv[5] if len(sys.argv) > 5 else "standing"
    isolate = len(sys.argv) > 6 and sys.argv[6] == "isolate"

    from pyspark.sql import functions as F

    from a_tree_spark.web.pipeline import (
        build_forests,
        cell_stats_from_root_partials,
        choose_shards,
        count_forest_nodes,
        diverse_page_subscriptions,
        fused_match_pages,
        run_pipeline,
        shard_subscriptions,
        sharded_root_partials,
        skewed_page_subscriptions,
        standing_page_subscriptions,
    )
    from a_tree_spark.engine.session import get_spark
    from a_tree_spark.web.synth import synth_pages_df

    gen = {
        "standing": standing_page_subscriptions,
        "skewed": skewed_page_subscriptions,
        "diverse": diverse_page_subscriptions,
    }[workload]
    subs = gen(n_subs)
    n_distinct = len(set(subs.values()))

    nodes = None
    shard_list: list[int] = []
    auto_k = None
    for s in raw_shards:
        if s == "auto":
            if nodes is None:
                t0 = time.time()
                nodes = count_forest_nodes(subs)
                count_sec = round(time.time() - t0, 1)
            auto_k = choose_shards(nodes)
            shard_list.append(auto_k)
        else:
            shard_list.append(int(s))
    shard_list = list(dict.fromkeys(shard_list))  # dedupe, keep order

    spark = get_spark("bench_sharding", extra_conf={
        # free dereferenced shuffle files (/dev/shm) aggressively:
        # the 1M-root runs accrue ~10 GB of shuffle per round
        "spark.cleaner.periodicGC.interval": "60s",
    })
    spark.sparkContext.setLogLevel("ERROR")
    pages = synth_pages_df(spark, n_pages)
    keyed = pages.withColumn("page_key", F.monotonically_increasing_id())

    t0 = time.time()
    forests_by_k = {
        k: build_forests(shard_subscriptions(subs, k)) for k in shard_list
    }
    build_sec = round(time.time() - t0, 1)
    broadcast_mb = {}
    for k, forests in forests_by_k.items():
        import pickle

        from a_tree_spark.expr.vector import planned_evaluator

        sizes = [
            len(pickle.dumps(planned_evaluator(f.compile()))) for f in forests
        ]
        broadcast_mb[f"shards_{k}"] = [round(s / 1e6, 2) for s in sizes]

    # warm every python worker
    run_pipeline(spark, 50_000, 1_000, pages=synth_pages_df(spark, 50_000)
                 ).collect()

    def result_df(k):
        forests = forests_by_k[k]
        if k == 1:
            partials = fused_match_pages(
                keyed, forests[0], emit="cell_root_partials"
            )
        else:
            partials = sharded_root_partials(
                keyed, forests, isolate_shards=isolate
            )
        return cell_stats_from_root_partials(partials)

    # per-run incremental prints: a 1M-root bench holds ~100 GB of
    # worker broadcast caches + /dev/shm shuffle on this box, and two
    # prior attempts OOMed AFTER all timed rounds finished but before
    # the summary printed — never buffer results a crash can lose.
    # Equality rows are kept from the LAST timed round (collect() IS
    # the timed action; cell stats are tiny), so no extra runs.
    times: dict[str, list[float]] = {f"shards_{k}": [] for k in shard_list}
    last_rows: dict[int, list] = {}
    for r in range(rounds):
        for k in shard_list:
            t0 = time.time()
            rows = result_df(k).collect()
            sec = round(time.time() - t0, 3)
            times[f"shards_{k}"].append(sec)
            last_rows[k] = rows
            print(json.dumps({"run": {"k": k, "round": r, "sec": sec,
                                      "rows": len(rows)}}), flush=True)
        # nudge the ContextCleaner: shuffle files live in /dev/shm and
        # accrue ~10 GB/round here; a driver-side GC lets Spark free
        # the dereferenced shuffles between rounds
        spark.sparkContext._jvm.System.gc()

    # row-set hash per k: the cell-stats columns are all integers
    # (counts and bit-packed ids — no float-sum rounding), so the hash
    # is comparable ACROSS runs at different core counts; this is what
    # lets the 32-core k=8 run (where k=1 OOMs and in-run equality is
    # impossible) be checked against an 8-core k=1 run's rows
    import hashlib

    rows_sha = {
        f"shards_{k}": hashlib.sha256(
            repr(sorted(map(tuple, rows))).encode()
        ).hexdigest()
        for k, rows in last_rows.items()
    }

    # ALL-pairs equality (the collected cell-stats rows are tiny), and
    # an explicit "skipped" marker when < 2 distinct k values ran — a
    # null in the artifact read as "checked" (ADVICE r6)
    if len(shard_list) >= 2:
        sorted_rows = {
            k: sorted(map(tuple, last_rows[k])) for k in shard_list
        }
        first = sorted_rows[shard_list[0]]
        equality = len(first) > 0 and all(
            sorted_rows[k] == first for k in shard_list[1:]
        )
        if not equality:
            print(json.dumps({"error": "shard outputs differ",
                              "k": shard_list}))
            return 1
    else:
        equality = "skipped"

    best = {k: min(v) for k, v in times.items()}
    base = best[f"shards_{shard_list[0]}"]
    out = {
        "n_pages": n_pages, "n_subs": n_subs, "workload": workload,
        "n_distinct_exprs": n_distinct, "runs": times, "best": best,
        "overhead_vs_first": {k: round(v / base, 3) for k, v in best.items()},
        "docs_per_sec": {k: round(n_pages / v, 1) for k, v in best.items()},
        "forest_build_sec_total": build_sec,
        "broadcast_mb": broadcast_mb,
        "equality_all_pairs": equality,
        "rows_sha256": rows_sha,
        "isolate_shards": isolate,
    }
    if nodes is not None:
        out["forest_nodes"] = nodes
        out["auto_shards"] = auto_k
        out["count_nodes_sec"] = count_sec
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
