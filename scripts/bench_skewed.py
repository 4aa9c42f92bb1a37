"""Flagship throughput under a heavy-tailed (Zipf list-width, hot
attribute) subscription workload vs the uniform templated one, same
pages, interleaved in one JVM. Also reports whether the cost-model auto
strategy flipped access pruning on (it should, for the skewed forest).

Usage: python scripts/bench_skewed.py [n_pages] [n_subs] [rounds]
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_subs = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from pyspark.sql import functions as F

    from a_tree_spark.engine.matcher import choose_access_pruning
    from a_tree_spark.engine.session import get_spark
    from a_tree_spark.expr import ForestBuilder
    from a_tree_spark.expr.vector import planned_evaluator
    from a_tree_spark.web.pipeline import (
        PAGE_ATTRIBUTES,
        build_page_forest,
        cell_stats_from_root_partials,
        fused_match_pages,
        root_subscription_map,
        skewed_page_subscriptions,
    )
    from a_tree_spark.web.synth import synth_pages_df

    spark = get_spark("bench_skewed")
    spark.sparkContext.setLogLevel("ERROR")
    pages = synth_pages_df(spark, n_pages).withColumn(
        "page_key", F.monotonically_increasing_id()
    )

    t0 = time.time()
    skew_builder = ForestBuilder(PAGE_ATTRIBUTES)
    for sub_id, expression in skewed_page_subscriptions(n_subs).items():
        skew_builder.insert(sub_id, expression)
    t_insert = round(time.time() - t0, 3)
    t0 = time.time()
    skew_ev = planned_evaluator(skew_builder.compile())
    t_compile = round(time.time() - t0, 3)
    uniform_builder = build_page_forest(n_subs)

    pruning = {
        "skewed": choose_access_pruning(skew_ev),
        "uniform": choose_access_pruning(
            planned_evaluator(uniform_builder.compile())
        ),
    }

    def run(builder):
        partials = fused_match_pages(
            pages, builder, emit="cell_root_partials"
        )
        cell_stats_from_root_partials(
            partials, root_subscription_map(spark, builder)
        ).collect()

    run(uniform_builder)  # warm workers
    times: dict[str, list[float]] = {"skewed": [], "uniform": []}
    for _ in range(rounds):
        for name, b in [("skewed", skew_builder), ("uniform", uniform_builder)]:
            t0 = time.time()
            run(b)
            times[name].append(round(time.time() - t0, 3))

    best = {k: min(v) for k, v in times.items()}
    print(json.dumps({
        "n_pages": n_pages, "n_subs": n_subs, "runs": times, "best": best,
        "docs_per_sec": {k: round(n_pages / v, 1) for k, v in best.items()},
        "auto_pruning": pruning,
        "skew_insert_sec": t_insert, "skew_compile_sec": t_compile,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
