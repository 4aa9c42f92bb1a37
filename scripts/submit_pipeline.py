"""spark-submit entry point for the fused web pipeline (north_rule:
"runs via spark-submit --py-files on a multi-executor cluster").

Usage (see scripts/run_submit.sh which builds the --py-files zip):

    spark-submit --master <cluster> --py-files a_tree_spark.zip \
        scripts/submit_pipeline.py \
        --pages <parquet path or synth:N> --subscriptions 100000 \
        --output /path/out --checkpoint-root /path/ckpt

It computes what ``run_pipeline`` computes, exact per-cell stats from
root partials, with the partials carried and checkpointed per work
unit through StageCheckpoint, so a killed job resumes exactly where it
stopped. Root ids are local to a forest snapshot, so the stage is named
``match-<fp>`` after the partial row layout and the plans' root CSR
(``stage_fingerprint``).
"""

from __future__ import annotations

import argparse
import os
import sys


def _at_least_one(value: str) -> int:
    if not value.lstrip("-").isdigit() or int(value) < 1:
        raise argparse.ArgumentTypeError(f"expected an integer of at least 1, got {value!r}")
    return int(value)


def parse_args(argv=None) -> argparse.Namespace:
    # counts are validated at parse time: a typo must fail BEFORE Spark
    # startup and input synthesis, not minutes later with a raw error
    parser = argparse.ArgumentParser()
    parser.add_argument("--pages", default="synth:1000000",
                        help="pages parquet path, or synth:N")
    parser.add_argument("--subscriptions", type=int, default=100000)
    parser.add_argument("--output", default="/tmp/a_tree_spark_out")
    parser.add_argument("--checkpoint-root", default="/tmp/a_tree_spark_ckpt")
    parser.add_argument("--units", type=_at_least_one, default=64,
                        help="resume granularity (work units)")
    parser.add_argument("--shards", default=1,
                        type=lambda v: v if v == "auto" else _at_least_one(v),
                        help="partition the subscription set into k "
                             "independent forests (10M+ distinct-root "
                             "scale; see web.pipeline.sharded_root_partials)"
                             " — or 'auto' to derive k from the exact "
                             "node count (count_forest_nodes)")
    return parser.parse_args(argv)


def stage_fingerprint(forests, level: int) -> str:
    """SHA-256 over the kernel's partial columns (``PARTIAL_COLUMNS``),
    the level and each shard plan's root CSR (root_sub_offsets,
    root_sub_ids): the CSR is what gives a root id its meaning, so a
    changed subscription set, shard count or compiler ordering changes
    the fingerprint, and so does a changed partial row, whose old
    checkpoints the aggregate could not read."""
    import hashlib

    from a_tree_spark.expr.vector import planned_evaluator
    from a_tree_spark.web.pipeline import PARTIAL_COLUMNS

    digest = hashlib.sha256(b"columns=%s|" % ",".join(PARTIAL_COLUMNS).encode())
    digest.update(b"level=%d" % level)
    for forest in forests:
        plan = planned_evaluator(forest.compile())
        for array in (plan.root_sub_offsets, plan.root_sub_ids):
            digest.update(b"|%d|" % len(array) + array.tobytes())
    return digest.hexdigest()[:16]


def run(spark, args: argparse.Namespace):
    """Run (or resume) the job; returns the per-cell stats it wrote."""
    from pyspark.sql import functions as F

    from a_tree_spark.pipeline.checkpoint import StageCheckpoint
    from a_tree_spark.spatial.cells import DEFAULT_LEVEL
    from a_tree_spark.web import synth_pages_df
    from a_tree_spark.web.pipeline import (
        build_forests,
        cell_stats_from_root_partials,
        choose_shards,
        count_forest_nodes,
        shard_subscriptions,
        sharded_root_partials,
        standing_page_subscriptions,
    )

    if args.pages.startswith("synth:"):
        pages = synth_pages_df(spark, int(args.pages.split(":", 1)[1]))
    else:
        pages = spark.read.parquet(args.pages)

    subs = standing_page_subscriptions(args.subscriptions)
    n_shards = args.shards
    if n_shards == "auto":
        n_shards = choose_shards(count_forest_nodes(subs))
        print(f"auto-sharding: {n_shards} forest(s)")
    forests = build_forests(shard_subscriptions(subs, n_shards))
    keyed = pages.withColumn(
        "unit_id", F.pmod(F.xxhash64("url"), F.lit(args.units))
    )

    stage = f"match-{stage_fingerprint(forests, DEFAULT_LEVEL)}"
    ckpt = StageCheckpoint(spark, args.checkpoint_root, stage)
    units = spark.range(args.units).select(F.col("id").alias("unit_id"))

    def compute(pending):
        subset = keyed.join(F.broadcast(pending), "unit_id", "semi")
        return sharded_root_partials(subset, forests, group="unit_id")

    partials = ckpt.run_stage(units, compute)
    stats = cell_stats_from_root_partials(partials)
    stats.write.mode("overwrite").parquet(args.output)
    print(f"wrote per-cell stats: {stats.count()} cells -> {args.output}")
    print(f"lineage audit mismatches: {ckpt.verify().count()}")
    return stats


def main() -> None:
    args = parse_args()
    from pyspark.sql import SparkSession

    # on a cluster the master/conf come from spark-submit; a standalone
    # run gets a default local session
    spark = SparkSession.builder.appName("a_tree_spark-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args)


if __name__ == "__main__":
    # standalone runs import the package from this checkout
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
