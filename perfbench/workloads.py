"""The benchmark's workloads: the crawl, against two subscription sets.

Each workload is a closed loop with one client: a step starts only when
the previous one has returned its result. A step applies a seeded batch
of subscription edits to the live ``ForestBuilder`` (delete a slice,
re-insert the same expressions, so the forest's content and every
step's result stay the same) and then crawls the pages with it:
``fused_match_pages(emit="cell_root_partials")`` and
``cell_stats_from_root_partials``. Each step yields per-edit latencies,
the time until the edits are visible in a materialized result, and the
pages crawled. The compile, evaluator planning and broadcast of every
new forest snapshot fall inside the step.

- ``crawl_standing``: ~10k templated standing subscriptions. The cost
  model leaves access pruning off; scan, Arrow boundary, RE2 extraction
  and the shuffle carry the work.
- ``crawl_skewed``: the same pages and plan against ~10k
  ``skewed_page_subscriptions`` (Zipf list widths, wide ``all of``
  leaves). The cost model turns two-phase pruning on; leaf evaluation,
  pruning and the sweep carry the work.
"""

from __future__ import annotations

import gc
import os
import time

from pyspark.sql import functions as F

import inputs
import probe

# a_tree_spark imports are deferred to call time: run.py first checks
# that the package is present and fails cleanly otherwise


def digest(df) -> tuple[int, int]:
    """Materialize every column of ``df`` into one order-free digest:
    (xor of the row hashes, row count)."""
    row = df.agg(F.bit_xor(F.xxhash64(*df.columns)), F.count(F.lit(1))).collect()[0]
    return int(row[0] or 0), int(row[1])


class Step:
    """What one closed-loop step measured."""

    def __init__(self) -> None:
        self.insert_s: list[float] = []
        self.delete_s: list[float] = []
        self.visible_s = 0.0     # edits start -> result materialized
        self.job_s = 0.0         # edits done -> result materialized
        self.docs = 0
        self.steal_pct = 0.0
        self.result = None


class Crawl:
    """Pages -> fused root-partials kernel -> per-cell statistics, with
    the subscription set refreshed before every step."""

    #: timed set-up repetitions; the median is reported
    PREPARE_REPEATS = 3
    WARM_PASSES = 3

    def __init__(self, spark, work_dir: str, seed: int, scale: dict, tracer,
                 generator_name: str):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.generator_name = generator_name
        self.pages_path = os.path.join(work_dir, "pages")
        self.builder = None
        self.live: dict = {}          # sub id -> expression, insertion order
        self.failures: list[str] = []

    def generator(self):
        from a_tree_spark.web import pipeline

        return getattr(pipeline, self.generator_name)

    def inputs(self) -> None:
        inputs.write_pages(
            self.pages_path, self.seed, self.scale["pages"], self.scale["page_files"]
        )
        self.expressions = inputs.subscription_window(
            self.generator(), self.seed, self.scale["subs"], stream=1
        )

    def prepare(self) -> None:
        from a_tree_spark.expr import ForestBuilder
        from a_tree_spark.web.pipeline import PAGE_ATTRIBUTES

        self.builder = ForestBuilder(PAGE_ATTRIBUTES)
        for sub_id, expression in self.expressions.items():
            self.builder.insert(sub_id, expression)
        self.live = dict(self.expressions)
        self.builder.compile()

    def pages(self):
        return self.spark.read.parquet(self.pages_path).withColumn(
            "page_key", F.monotonically_increasing_id()
        )

    def crawl(self, pages):
        from a_tree_spark.web.pipeline import (
            cell_stats_from_root_partials,
            fused_match_pages,
            root_subscription_map,
        )

        with self.tracer.span("web.pipeline.root_subscription_map"):
            root_map = root_subscription_map(self.spark, self.builder)
        with self.tracer.span("web.pipeline.fused_match_pages"):
            partials = fused_match_pages(pages, self.builder, emit="cell_root_partials")
        with self.tracer.span("web.pipeline.cell_stats_from_root_partials"):
            return cell_stats_from_root_partials(partials, root_map)

    def warm(self) -> None:
        # the JIT takes several passes to settle: after only two, step
        # times still fell by a quarter over the loop's first ten
        # seconds, and a slow window, having fewer steps, weighed them more
        for _ in range(self.WARM_PASSES):
            digest(self.crawl(self.pages()))

    def _edit(self, step: Step, index: int) -> None:
        rng = inputs.rng_for(self.seed, 2, index)
        ids = list(self.live)
        pick = rng.choice(len(ids), size=self.scale["edits"], replace=False)
        chosen = [ids[i] for i in sorted(pick.tolist())]
        # the cyclic collector is paused over an edit batch, as the
        # library's own bulk loaders do (web.pipeline._gc_paused): a
        # collection would land on whichever edit crosses its threshold
        gc.disable()
        try:
            with self.tracer.span("expr.compiler.delete", n=len(chosen)):
                for sub_id in chosen:
                    t0 = time.perf_counter()
                    self.builder.delete(sub_id)
                    step.delete_s.append(time.perf_counter() - t0)
            with self.tracer.span("expr.compiler.insert", n=len(chosen)):
                for sub_id in chosen:
                    t0 = time.perf_counter()
                    self.builder.insert(sub_id, self.live[sub_id])
                    step.insert_s.append(time.perf_counter() - t0)
        finally:
            gc.enable()

    def step(self, index: int) -> Step:
        step = Step()
        self.spark.catalog.clearCache()
        jiffies = probe.cpu_jiffies()
        self.tracer.step = index
        with self.tracer.span("step", index=index):
            t0 = time.perf_counter()
            self._edit(step, index)
            t1 = time.perf_counter()
            with self.tracer.span("spark.action"):
                step.result = digest(self.crawl(self.pages()))
            t2 = time.perf_counter()
        step.docs = self.scale["pages"]
        step.visible_s = t2 - t0
        step.job_s = t2 - t1
        step.steal_pct = probe.steal_pct(jiffies, probe.cpu_jiffies())
        return step

    def check(self, steps: list[Step]) -> None:
        from a_tree_spark.expr import compile_forest
        from a_tree_spark.web.pipeline import (
            PAGE_ATTRIBUTES,
            eventize_pages,
            exact_cell_sub_counts,
            match_pages,
        )

        results = {s.result for s in steps}
        if len(results) != 1:
            self.failures.append(f"crawl digests differ across steps: {sorted(results)}")
        if set(self.builder.sub_ids()) != set(self.live):
            self.failures.append("live forest holds other sub ids than were inserted")
        # per-cell result on a seeded page sample against the unfused
        # path: eventize -> match -> exact distinct subscriptions per cell
        buckets = self.scale["sample_buckets"]
        pages = self.pages().where(
            F.pmod(F.xxhash64("url"), F.lit(buckets)) == self.seed % buckets
        )
        got = {
            r["cell_id"]: (r["n_matches"], r["n_distinct_subs"])
            for r in self.crawl(pages).collect()
        }
        eventized = eventize_pages(pages).persist()
        matches = match_pages(eventized, self.builder).persist()
        try:
            per_cell = matches.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
            distinct = {
                r["cell_id"]: r["n_distinct_subs"]
                for r in exact_cell_sub_counts(matches).collect()
            }
            want = {
                r["cell_id"]: (r["n"], distinct.get(r["cell_id"]))
                for r in per_cell.collect()
            }
            # the live forest, after every step's deletes and inserts,
            # matches the sample exactly like one built from scratch
            rebuilt = compile_forest(PAGE_ATTRIBUTES, self.live)
            live_hits, rebuilt_hits = (
                digest(hits.select("page_key", "sub_id"))
                for hits in (matches, match_pages(eventized, rebuilt))
            )
        finally:
            matches.unpersist()
            eventized.unpersist()
        if got != want:
            diff = sorted(set(got.items()) ^ set(want.items()), key=str)[:5]
            self.failures.append(f"crawl sample differs from unfused oracle: {diff}")
        if not got:
            self.failures.append("crawl sample produced no cells")
        if live_hits != rebuilt_hits:
            self.failures.append(
                f"live forest matches {live_hits}, rebuilt forest {rebuilt_hits}"
            )


#: workload name -> the library generator of its subscription set
GENERATORS = {
    "crawl_standing": "standing_page_subscriptions",
    "crawl_skewed": "skewed_page_subscriptions",
}

#: sizes. "full" is what BENCHMARK.json measures on four cores; "tiny"
#: is the self-test's.
SCALES = {
    "full": {"pages": 40_000, "page_files": 8, "subs": 10_000, "edits": 400,
             "sample_buckets": 40},
    "tiny": {"pages": 4_000, "page_files": 4, "subs": 500, "edits": 20,
             "sample_buckets": 4},
}
