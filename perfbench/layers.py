"""Per-layer metrics of a traced run, named by module.

Everything here is measured from outside the library: wall-clock spans
around calls into each module's public functions, in-process timings of
the vectorized evaluator on one eventized Arrow sample, and Spark's own
SQL and stage metrics for the Python stages. Each layer's Spark metrics
come from one dedicated action over the workload's own inputs; the
``engine.matcher`` and ``pipeline`` layers, which no workload runs end
to end, are measured on an eventized sample of the workload's pages and
on a small seeded corpus, the latter checked against the repo's DuckDB
oracles.

Which end-to-end metric each layer metric should move, and where:

- ``engine.session.start_s``: ``setup_s``, every workload.
- ``expr.parser.parse_us``, ``expr.compiler.*``: ``sub_insert_us``,
  ``sub_delete_us`` and ``update_visible_s``.
- ``expr.vector.roots_us_per_krow``: ``docs_per_s`` on crawl_skewed
  (``roots_share`` is its share of the step's CPU time); ``plan_s`` and
  ``evaluator_bytes``: ``update_visible_s`` and ``peak_worker_rss_mb``.
- ``web.pipeline.*`` (fused stage): ``docs_per_s`` on crawl_standing
  (boundary bytes, ``identity_floor_share``) and crawl_skewed
  (``python_s``); ``web.agg.*``: ``docs_per_s``, crawl_standing.
- ``engine.matcher.*`` and ``pipeline.*``: no workload's end-to-end
  metrics (see ``CURATION_DOCS``).
"""

from __future__ import annotations

import os
import pickle
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import inputs
import probe
from workloads import digest

PER_LAYER = [
    ("engine.session.start_s", "s"),
    ("expr.parser.parse_us", "us"),
    ("expr.compiler.insert_walk_us", "us"),
    ("expr.compiler.nodes_created", "count"),
    ("expr.compiler.delete_us", "us"),
    ("expr.compiler.compile_s", "s"),
    ("expr.compiler.num_nodes", "count"),
    ("expr.compiler.subs_per_root", "subs/root"),
    ("expr.vector.plan_s", "s"),
    ("expr.vector.evaluator_bytes", "B"),
    ("expr.vector.lazy_leaves", "count"),
    ("expr.vector.columns_us_per_krow", "us/krow"),
    ("expr.vector.roots_us_per_krow", "us/krow"),
    ("expr.vector.expand_us_per_krow", "us/krow"),
    ("expr.vector.root_hits_per_row", "hits/row"),
    ("expr.vector.roots_share", "share"),
    ("web.pipeline.python_s", "s"),
    ("web.pipeline.bytes_in_per_doc", "B/doc"),
    ("web.pipeline.bytes_out_per_doc", "B/doc"),
    ("web.pipeline.partial_rows_per_doc", "rows/doc"),
    ("web.pipeline.task_skew", "max/median"),
    ("web.pipeline.fallback_rows", "count"),
    ("web.pipeline.identity_floor_s", "s"),
    ("web.pipeline.identity_floor_share", "share"),
    ("web.agg.shuffle_bytes", "B"),
    ("web.agg.shuffle_records", "count"),
    ("web.agg.stage_s", "s"),
    ("spatial.cells.cell_id_ns_per_row", "ns/row"),
    ("engine.matcher.python_s", "s"),
    ("engine.matcher.bytes_in_per_row", "B/row"),
    ("pipeline.text.features_s", "s"),
    ("pipeline.dedup.simhash_pairs_s", "s"),
    ("pipeline.dedup.clusters_s", "s"),
    ("pipeline.dedup.canonical_s", "s"),
    ("pipeline.dedup.minhash_pairs_s", "s"),
    ("pipeline.dedup.output_pairs", "count"),
    ("spark.spill_bytes", "B"),
    ("spark.storage_bytes_held", "B"),
    ("trace.overhead_pct", "%"),
]

#: rows of the eventized sample the evaluator is timed on, in batches
#: of the session's Arrow batch size
SAMPLE_ROWS = {"full": 10_000, "tiny": 2_000}
ARROW_BATCH = 4096
#: expressions parsed, inserted and deleted again by the compiler probe
PROBE_EXPRESSIONS = 500
#: the curation corpus. Curation is not a workload of its own: a warm
#: curated_corpus + minhash_lsh_pairs pass costs ~14 s on four cores at
#: any size up to 10k docs (fixed per-job cost), more than a run's
#: whole time budget, so the layer is measured here instead
CURATION_DOCS = {"full": 400, "tiny": 200}

_PY = "MapInArrow"


def _timed(tracer, name, fn):
    with tracer.span(name):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0


def _compiler_probe(workload, out: dict) -> None:
    """Parse, insert (pre-parsed) and delete fresh expressions on the
    live forest; it ends holding the same subscriptions it started with."""
    from a_tree_spark.expr.parser import parse

    builder = workload.builder
    attrs = builder.attributes
    expressions = list(_probe_expressions(workload))
    parse_s, insert_s, delete_s = [], [], []
    nodes_before = builder.nodes_created_total
    parsed = []
    for text in expressions:
        t0 = time.perf_counter()
        parsed.append(parse(text, attrs).optimize())
        parse_s.append(time.perf_counter() - t0)
    ids = [("probe", i) for i in range(len(parsed))]
    for sub_id, node in zip(ids, parsed):
        t0 = time.perf_counter()
        builder.insert(sub_id, node)
        insert_s.append(time.perf_counter() - t0)
    out["expr.compiler.nodes_created"] = builder.nodes_created_total - nodes_before
    for sub_id in ids:
        t0 = time.perf_counter()
        builder.delete(sub_id)
        delete_s.append(time.perf_counter() - t0)
    out["expr.parser.parse_us"] = statistics.median(parse_s) * 1e6
    out["expr.compiler.insert_walk_us"] = statistics.median(insert_s) * 1e6
    out["expr.compiler.delete_us"] = statistics.median(delete_s) * 1e6


def _probe_expressions(workload):
    """Expressions of the workload's own kind that are not live."""
    start = max(workload.expressions) + 1
    every = workload.generator()(start + PROBE_EXPRESSIONS)
    return [every[i] for i in range(start, start + PROBE_EXPRESSIONS)]


def _vector_probe(workload, sample, out: dict) -> None:
    """Plan an evaluator for the live forest and time its phases on the
    eventized Arrow sample, batch by batch as a Python worker would."""
    from a_tree_spark.engine.matcher import choose_access_pruning
    from a_tree_spark.expr.vector import BatchEvaluator
    from a_tree_spark.spatial.cells import cell_id

    t0 = time.perf_counter()
    forest = workload.builder.compile()
    out["expr.compiler.compile_s"] = time.perf_counter() - t0
    out["expr.compiler.num_nodes"] = forest.num_nodes
    t0 = time.perf_counter()
    ev = BatchEvaluator(forest)
    ev.access_pruning = choose_access_pruning(ev)
    out["expr.vector.plan_s"] = time.perf_counter() - t0
    out["expr.vector.evaluator_bytes"] = len(pickle.dumps(ev))
    out["expr.vector.lazy_leaves"] = len(ev.lazy_leaf_idxs) if ev.access_pruning else 0
    out["expr.compiler.subs_per_root"] = len(ev.sub_ids) / max(len(ev.root_nodes), 1)

    cols = roots = expand = 0.0
    hits = 0
    for batch in sample.to_batches(max_chunksize=ARROW_BATCH):
        t0 = time.perf_counter()
        cache = ev.arrow_columns(batch)
        t1 = time.perf_counter()
        rows, root_idx = ev.evaluate_prepared_roots(cache, batch.num_rows)
        t2 = time.perf_counter()
        ev.expand_roots(rows, root_idx)
        t3 = time.perf_counter()
        cols += t1 - t0
        roots += t2 - t1
        expand += t3 - t2
        hits += len(rows)
    krows = sample.num_rows / 1000.0
    out["expr.vector.columns_us_per_krow"] = cols * 1e6 / krows
    out["expr.vector.roots_us_per_krow"] = roots * 1e6 / krows
    out["expr.vector.expand_us_per_krow"] = expand * 1e6 / krows
    out["expr.vector.root_hits_per_row"] = hits / sample.num_rows

    lat = np.nan_to_num(sample.column("lat").to_numpy(zero_copy_only=False))
    lon = np.nan_to_num(sample.column("lon").to_numpy(zero_copy_only=False))
    reps = max(1, 1_000_000 // len(lat))
    lat, lon = np.tile(lat, reps), np.tile(lon, reps)
    t0 = time.perf_counter()
    cell_id(lat, lon)
    out["spatial.cells.cell_id_ns_per_row"] = (time.perf_counter() - t0) * 1e9 / len(lat)


def _python_stage(collected: dict) -> dict:
    return max(collected["stages"], key=lambda s: s["run_s"])


def _crawl_layer(spark, workload, pages_path: str, tracer, out: dict, spill: list) -> None:
    from a_tree_spark.web.pipeline import (
        cell_stats_from_root_partials,
        fused_match_pages,
        root_subscription_map,
    )

    metrics = probe.SparkMetrics(spark)
    pages = spark.read.parquet(pages_path).withColumn(
        "page_key", F.monotonically_increasing_id()
    )
    n_pages = pages.count()
    counter = spark.sparkContext.accumulator(0)
    root_map = root_subscription_map(spark, workload.builder)
    partials = fused_match_pages(
        pages, workload.builder, emit="cell_root_partials", fallback_counter=counter
    )
    spark.catalog.clearCache()
    metrics.mark()
    _, wall = _timed(
        tracer, "web.pipeline.crawl",
        lambda: digest(cell_stats_from_root_partials(partials, root_map)),
    )
    got = metrics.collect()
    py = _python_stage(got)
    others = [s for s in got["stages"] if s is not py]
    durations = sorted(py["task_s"]) or [0.0]
    out["web.pipeline.python_s"] = probe.node_sum(got, _PY, "time to run Python workers")
    out["web.pipeline.bytes_in_per_doc"] = (
        probe.node_sum(got, _PY, "data sent to Python workers") / n_pages
    )
    out["web.pipeline.bytes_out_per_doc"] = (
        probe.node_sum(got, _PY, "data returned from Python workers") / n_pages
    )
    out["web.pipeline.partial_rows_per_doc"] = (
        probe.node_sum(got, _PY, "number of output rows") / n_pages
    )
    out["web.pipeline.task_skew"] = durations[-1] / max(statistics.median(durations), 1e-9)
    out["web.pipeline.fallback_rows"] = counter.value
    out["web.agg.shuffle_bytes"] = sum(s["shuffle_write_bytes"] for s in got["stages"])
    out["web.agg.shuffle_records"] = sum(s["shuffle_write_records"] for s in got["stages"])
    out["web.agg.stage_s"] = sum(s["run_s"] for s in others)
    spill.extend(s["spill_bytes"] for s in got["stages"])

    # the floor: the same scan and columns through an identity mapInArrow
    def identity(batches):
        yield from batches

    pruned = pages.select("url", "html", "lang", "page_key")
    _, floor = _timed(
        tracer, "web.pipeline.identity_floor",
        lambda: pruned.mapInArrow(identity, schema=pruned.schema)
        .write.format("noop").mode("overwrite").save(),
    )
    out["web.pipeline.identity_floor_s"] = floor
    out["web.pipeline.identity_floor_share"] = floor / wall


def _matcher_layer(spark, workload, events_path: str, tracer, out: dict, spill: list) -> None:
    from a_tree_spark.engine.matcher import match_events

    metrics = probe.SparkMetrics(spark)
    events = spark.read.parquet(events_path)
    n_rows = events.count()
    matches = match_events(events, workload.builder, event_id_col="page_key")
    grouped = matches.groupBy("sub_id").agg(F.count(F.lit(1)).alias("n"))
    spark.catalog.clearCache()
    metrics.mark()
    _timed(tracer, "engine.matcher.match_events", lambda: digest(grouped))
    got = metrics.collect()
    out["engine.matcher.python_s"] = probe.node_sum(got, _PY, "time to run Python workers")
    out["engine.matcher.bytes_in_per_row"] = (
        probe.node_sum(got, _PY, "data sent to Python workers") / n_rows
    )
    spill.extend(s["spill_bytes"] for s in got["stages"])


def _curation_layer(spark, work_dir: str, seed: int, n_docs: int, tracer,
                    out: dict, spill: list, failures: list) -> None:
    import duckdb
    from a_tree_spark.pipeline.dedup import (
        canonical_documents,
        corpus_with_dups,
        curated_corpus,
        curated_corpus_oracle,
        minhash_lsh_oracle,
        minhash_lsh_pairs,
        simhash_duplicate_clusters,
        simhash_near_dup_pairs,
    )
    from a_tree_spark.pipeline.text import text_features

    frame = inputs.documents_frame(seed, n_docs)
    path = os.path.join(work_dir, "documents")
    spark.createDataFrame(frame).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    corpus = corpus_with_dups(docs)
    metrics = probe.SparkMetrics(spark)

    def cold(name, fn):
        spark.catalog.clearCache()
        metrics.mark()
        result, seconds = _timed(tracer, name, fn)
        spill.extend(s["spill_bytes"] for s in metrics.collect()["stages"])
        return result, seconds

    _, out["pipeline.text.features_s"] = cold(
        "pipeline.text.text_features", lambda: digest(text_features(docs))
    )
    _, out["pipeline.dedup.simhash_pairs_s"] = cold(
        "pipeline.dedup.simhash_near_dup_pairs",
        lambda: digest(simhash_near_dup_pairs(corpus)),
    )
    _, out["pipeline.dedup.clusters_s"] = cold(
        "pipeline.dedup.simhash_duplicate_clusters",
        lambda: digest(simhash_duplicate_clusters(corpus)),
    )
    _, out["pipeline.dedup.canonical_s"] = cold(
        "pipeline.dedup.canonical_documents",
        lambda: digest(canonical_documents(corpus, simhash_duplicate_clusters(corpus))),
    )
    pairs, out["pipeline.dedup.minhash_pairs_s"] = cold(
        "pipeline.dedup.minhash_lsh_pairs",
        lambda: [tuple(r) for r in minhash_lsh_pairs(corpus).collect()],
    )
    out["pipeline.dedup.output_pairs"] = len(pairs)
    curated, _ = cold(
        "pipeline.dedup.curated_corpus",
        lambda: [tuple(r) for r in curated_corpus(docs).collect()],
    )

    con = duckdb.connect()
    try:
        con.register("documents", frame)
        want_pairs = con.execute(minhash_lsh_oracle("documents")).fetchall()
        want_curated = con.execute(curated_corpus_oracle("documents")).fetchall()
    finally:
        con.close()
    if sorted(pairs) != sorted(map(tuple, want_pairs)):
        failures.append("minhash_lsh_pairs differs from its DuckDB oracle")
    if sorted(curated) != sorted(map(tuple, want_curated)):
        failures.append("curated_corpus differs from its DuckDB oracle")
    if not pairs or not curated:
        failures.append("curation produced an empty output")


def _overhead_pct(steps, traced_steps) -> float:
    """Traced steps alternate with untraced ones; compare each traced
    step with the mean of its untraced neighbours, so the loop's own
    warm-up drift cancels, and take the median."""
    ratios = []
    for i, step in enumerate(steps):
        if step not in traced_steps:
            continue
        near = [steps[j].visible_s for j in (i - 1, i + 1)
                if 0 <= j < len(steps) and steps[j] not in traced_steps]
        if near:
            ratios.append(step.visible_s / statistics.mean(near) - 1.0)
    return 100.0 * statistics.median(ratios)


def measure(spark, workload, tracer, steps, traced_steps,
            session_s: float, scale: str) -> tuple[dict, list[str]]:
    """Every per-layer metric for this workload, and the failed checks."""
    from a_tree_spark.web.pipeline import eventize_pages

    tracer.enabled = True
    tracer.step = "layers"
    out: dict = {"engine.session.start_s": session_s}
    spill: list = []
    failures: list[str] = []
    work_dir = workload.work_dir

    events_path = os.path.join(work_dir, "layer_events")
    eventize_pages(
        spark.read.parquet(workload.pages_path).limit(SAMPLE_ROWS[scale])
    ).withColumn("page_key", F.xxhash64("url")).drop(
        "extracted_text"
    ).write.mode("overwrite").parquet(events_path)
    sample = spark.read.parquet(events_path).toArrow()

    with tracer.span("expr.compiler.probe"):
        _compiler_probe(workload, out)
    with tracer.span("expr.vector.probe"):
        _vector_probe(workload, sample, out)
    job_s = statistics.median(s.job_s for s in traced_steps)
    rows = statistics.median(s.docs for s in traced_steps)
    out["expr.vector.roots_share"] = (
        out["expr.vector.roots_us_per_krow"] * rows / 1000 / 1e6
        / (job_s * spark.sparkContext.defaultParallelism)
    )
    _crawl_layer(spark, workload, workload.pages_path, tracer, out, spill)
    _matcher_layer(spark, workload, events_path, tracer, out, spill)
    _curation_layer(spark, work_dir, workload.seed, CURATION_DOCS[scale], tracer,
                    out, spill, failures)
    out["spark.spill_bytes"] = sum(spill)
    out["spark.storage_bytes_held"] = probe.storage_bytes_held(spark)
    out["trace.overhead_pct"] = _overhead_pct(steps, traced_steps)
    tracer.enabled = False
    return {name: float(out[name]) for name, _ in PER_LAYER}, failures
