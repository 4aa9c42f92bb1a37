"""One scaling-bench invocation at ONE parallelism level, intended to be
launched under ``taskset -c 0-(N-1)`` so the WHOLE process tree — JVM
task threads AND python workers — is confined to N cores.

Why pinning: a local[N] job runs N task threads plus N python worker
processes. Unpinned, the "8-core" level really consumes ~16 cores
(JVM half and python half pipeline on different cores), overstating
low-level throughput and understating scaling efficiency. ``taskset``
bounds the tree the way an N-core executor container would on a real
cluster, which is exactly the north_rule's N vs 4N executors.

Prints one line: RESULT {"cores": N, "runs": [{"sec", "steal_pct"}...]}
(steal measured from /proc/stat around each run — this host steals CPU
in multi-minute streaks, so every recorded time carries its own steal).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def read_steal() -> tuple[int, int]:
    with open("/proc/stat") as f:
        values = list(map(int, f.readline().split()[1:]))
    return values[7], sum(values)


def main() -> None:
    import time

    from pyspark.sql import functions as F

    from bench import _pages_parquet
    from a_tree_spark.engine.session import get_spark
    from a_tree_spark.web import build_page_forest
    from a_tree_spark.web.pipeline import (
        cell_stats_from_root_partials,
        fused_match_pages,
    )

    cores = int(sys.argv[1])
    rounds = int(sys.argv[2])
    n_pages = int(os.environ.get("SPARK_GRAFT_PAGES", "16000000"))
    n_subs = int(os.environ.get("SPARK_GRAFT_SUBS", "10000"))

    # split size: 16m default for the multi-GB scaling inputs — the 4m
    # setting (tuned for ~10 MB/file driver tables) manufactures ~1300
    # tasks at 16M pages and ~130ms/task of python-runner setup cost a
    # 19-29% wall tax at both levels (BENCH/BASELINE.md round-7
    # investigation); the recorded headline is reproducible with this
    # default. Env override for probing.
    split = os.environ.get("SPARK_GRAFT_MAX_SPLIT", "16m")
    # probe hook: the best Arrow batch size is a function of the
    # kernel's per-row live set (r7 tuned 4096 against object-string
    # columns; r8's dictionary codes shrank the set)
    arrow_rows = int(os.environ.get("SPARK_GRAFT_ARROW_ROWS", "4096"))
    spark = get_spark(
        "a_tree_spark-pinned",
        cpus=cores,
        arrow_batch_rows=arrow_rows,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": split,
            "spark.sql.files.openCostInBytes": "512k",
        },
    )
    pages_path = _pages_parquet(spark, n_pages)
    forest = build_page_forest(n_subs)
    forest.compile()

    def flagship() -> None:
        # noop sink, NOT count(): count() lets Catalyst strip aggregate
        # expressions (HLL sketches, distinct counts) the row count does
        # not need — the scaling gate must time the full plan, same
        # protocol as bench.py's _force (VERDICT r6 item 3)
        pages = spark.read.parquet(pages_path).withColumn(
            "page_key", F.monotonically_increasing_id()
        )
        cell_stats_from_root_partials(
            fused_match_pages(pages, forest, emit="cell_root_partials"),
        ).write.format("noop").mode("overwrite").save()

    # warm every python worker, then one full warm pass (page cache,
    # catalyst plans, broadcast)
    small = spark.read.parquet(pages_path).limit(20 * cores).repartition(2 * cores)
    cell_stats_from_root_partials(
        fused_match_pages(
            small.withColumn("page_key", F.monotonically_increasing_id()),
            forest,
            emit="cell_root_partials",
        ),
    ).count()
    flagship()

    runs = []
    for _ in range(rounds):
        s0, t0 = read_steal()
        started = time.time()
        flagship()
        elapsed = time.time() - started
        s1, t1 = read_steal()
        runs.append({
            "sec": round(elapsed, 2),
            "steal_pct": round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2),
        })
    print("RESULT " + json.dumps({"cores": cores, "runs": runs}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
