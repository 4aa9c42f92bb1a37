"""The fused north-star pipeline: pages -> extract -> geotag -> cells ->
predicate match -> exact per-cell aggregation.

This is the engine's flagship at scale (BASELINE.json north_star): web
pages from an Iceberg/parquet table are eventized into the six-type
attribute system, matched against a standing subscription forest, and
aggregated per spatial cell. Stage layout of the default fused path
(``fused_match_pages`` + ``cell_stats_from_root_partials``):

  scan -> mapInArrow(fused kernel)      [broadcast evaluator: RE2 extract,
                                         geotag + cell, match, in-kernel
                                         (cell, root) combine, root's
                                         n_subs read from the plan]
       -> one shuffle on the cell key   [defaultParallelism partitions]
       -> per-(cell, root) and per-cell [both in the shuffle's
          aggregates                     partitions: exact counts]

The evaluator is planned once per forest snapshot
(``expr.vector.planned_evaluator``); each partial row carries its
root's subscriber count from that plan, so no root map is joined.
Hot ccTLD centroids concentrate matches in a few cells; the in-kernel
combine collapses them before the shuffle.

The same path serves the resumable deployment job
(``scripts/submit_pipeline.py``): a carried integer ``group`` column
(its ``unit_id``) makes the kernel combine on (group, ckey), so each
work unit checkpoints exact partials of its own. The composable
operators (``eventize_pages`` -> ``match_pages`` ->
``exact_cell_sub_counts``) are the per-match reference the tests check
the kernel against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..engine.matcher import broadcast_evaluator, match_events
from ..expr import AttributeDefinition as A, AttributeTable, ForestBuilder
from ..expr.vector import planned_evaluator
from ..pipeline.materialize import Held, retain
from ..spatial.cells import DEFAULT_LEVEL
from .extract import with_page_features
from .geotag import TLD_CENTROIDS, geotag_pages
from .synth import TLD_TABLE

PAGE_ATTRIBUTES = AttributeTable([
    A.string("lang"),
    A.string("tld"),
    A.integer("n_tokens"),
    A.boolean("has_geo"),
    A.integer("lat_band"),
    A.string_list("lead_tokens"),
])

SALT_BUCKETS = 64

# the fused kernel's partial row, after the carried group column if
# any; a checkpoint of partials is valid only for this layout
# (scripts/submit_pipeline.py::stage_fingerprint)
PARTIAL_COLUMNS = ("ckey", "n_matches", "n_subs")


def eventize_pages(pages: DataFrame, level: int = DEFAULT_LEVEL) -> DataFrame:
    """pages (url, warc_ts, html, text, lang) -> attribute columns.
    One fused Arrow pass (extract text + geo meta + tld), then JVM-only
    derivations; html is dropped at the Python boundary."""
    extracted = with_page_features(pages, keep=["url", "warc_ts", "lang"])
    tagged = geotag_pages(extracted, level)
    return tagged.select(
        "url",
        "warc_ts",
        "lang",
        "tld",
        "lat",
        "lon",
        "cell_id",
        F.col("extracted_text"),
        F.size(F.split("extracted_text", " ")).cast("bigint").alias("n_tokens"),
        F.col("meta_lat").isNotNull().alias("has_geo"),
        F.when(
            F.col("lat").isNotNull(), F.floor((F.col("lat") + 90.0) / 10.0).cast("bigint")
        ).alias("lat_band"),
        F.slice(F.split("extracted_text", " "), 1, 8).alias("lead_tokens"),
    )


def standing_page_subscriptions(n: int) -> dict[int, str]:
    """Deterministic templated workload of n boolean predicate trees over
    the page attributes — the 1e5-subscription standing set of the
    north-star metric, generated like the reference's bench fixture
    (benches/data/search.json: templated expressions with long lists)."""
    langs = [row[1] for row in TLD_TABLE]
    tlds = sorted(TLD_CENTROIDS)
    subs: dict[int, str] = {}
    for i in range(n):
        lang = langs[i % len(langs)]
        tld = tlds[(i * 7) % len(tlds)]
        lo = 20 + (i * 13) % 55
        toks = ", ".join(f"'tok{(i * 37 + j * 101) % 5000}'" for j in range(5))
        band = (i * 11) % 18
        template = i % 5
        # Selectivity is tuned to realistic pub/sub hit rates (~0.1-1%
        # of pages per subscription) — every template conjoins a narrow
        # token-membership or a tight numeric range.
        if template == 0:
            subs[i] = (
                f"lang = '{lang}' and n_tokens >= {lo} and n_tokens < {lo + 3}"
            )
        elif template == 1:
            subs[i] = (
                f"tld = '{tld}' and lead_tokens one of [{toks}] "
                f"or lang = '{lang}' and has_geo and n_tokens = {lo}"
            )
        elif template == 2:
            subs[i] = (
                f"has_geo and lat_band in [{band}] "
                f"and n_tokens > {lo} and n_tokens <= {lo + 6}"
            )
        elif template == 3:
            subs[i] = (
                f"not has_geo and lang in ['{lang}'] "
                f"and lead_tokens one of [{toks}] and lead_tokens none of ['tok{(i * 53) % 5000}']"
            )
        else:
            subs[i] = (
                f"(lang = '{lang}' or tld = '{tld}') and n_tokens >= {lo} "
                f"and n_tokens < {lo + 2} and lead_tokens is not empty"
            )
    return subs


def skewed_page_subscriptions(n: int) -> dict[int, str]:
    """Heavy-tailed pub/sub workload (VERDICT round 4 item 6): the
    uniform templated set cycles evenly, but real standing forests
    concentrate on a few hot attributes and carry Zipf-distributed list
    sizes — the reference's own bench fixture is one 29 KB expression
    with a 3600-element list (benches/data/search.json). Deterministic
    in i; shape:

    - Zipf-ish widths: rank r = (i mod 97)+1 gets a ~240/r-element
      token list (a few 240-wide heads, a 4-12 tail), all drawn from a
      HOT token subspace (2000 of 5000) so list contents overlap hard;
    - 3 hot languages / 2 hot tlds carry most equality predicates;
    - every subscription ALSO conjoins a narrow numeric range so
      per-subscription hit rates stay at realistic pub/sub selectivity
      (~0.05-0.5%/sub; a first cut without the ranges matched ~1,100
      subscriptions per page — wide membership over a 5,000-token space
      is inherently unselective, which real systems offset with
      high-cardinality list domains or extra conjuncts);
    - every 4th subscription conjoins a wide-ish ``all of`` (4-8
      elements). They share the
      ``lead_tokens`` member group with the ``one of`` / ``none of``
      leaves (pinned by
      tests/test_web_pipeline.py::test_skewed_workload_shares_one_lead_token_group)."""
    langs = [row[1] for row in TLD_TABLE]
    hot_langs = langs[:3]
    tlds = sorted(TLD_CENTROIDS)
    hot_tlds = tlds[:2]
    subs: dict[int, str] = {}
    for i in range(n):
        r = (i % 97) + 1
        width = min(3600, max(4, 240 // r))
        toks = ", ".join(
            f"'tok{(i * 131 + j * 17) % 2000}'" for j in range(width)
        )
        lang = hot_langs[i % 3] if i % 10 < 8 else langs[i % len(langs)]
        tld = hot_tlds[i % 2] if i % 10 < 8 else tlds[i % len(tlds)]
        lo = 20 + (i * 13) % 55
        band = (i * 11) % 18
        t = i % 4
        if t == 0:
            subs[i] = (
                f"lang = '{lang}' and lead_tokens one of [{toks}] "
                f"and n_tokens >= {lo} and n_tokens < {lo + 3}"
            )
        elif t == 1:
            w4 = 4 + (i % 5)
            all_toks = ", ".join(
                f"'tok{(i * 31 + j * 7) % 2000}'" for j in range(w4)
            )
            subs[i] = f"tld = '{tld}' and lead_tokens all of [{all_toks}]"
        elif t == 2:
            subs[i] = (
                f"lead_tokens none of [{toks}] and has_geo "
                f"and lat_band in [{band}] and n_tokens = {lo}"
            )
        else:
            subs[i] = (
                f"lang in ['{hot_langs[0]}', '{lang}'] and has_geo "
                f"and lead_tokens one of [{toks}] "
                f"and n_tokens > {lo} and n_tokens <= {lo + 2}"
            )
    return subs


def diverse_page_subscriptions(n: int) -> dict[int, str]:
    """Maximum-entropy workload: every literal derives from
    splitmix64(i), so distinct expression ROOTS ≈ n (the templated
    standing set CSE-collapses 1e6 subs to ~36k roots because its
    literals cycle with small periods — VERDICT r5 item 6). Each
    subscription carries a 5-token membership list drawn from the
    5000-token space (5000^5 combinations: collisions across 1e6 subs
    are birthday-negligible), so no two subscriptions share a root even
    when their numeric conjuncts collide — this is the workload that
    actually exercises the ≥1M-distinct-root sharding path
    (sharded_root_partials), matching the reference's unbounded
    expression-count capability (src/lib.rs:67-87). Deterministic in i;
    same attribute surface and realistic per-sub selectivity shape as
    the standing set."""
    from ..pipeline.dedup import _splitmix64

    langs = [row[1] for row in TLD_TABLE]
    tlds = sorted(TLD_CENTROIDS)
    subs: dict[int, str] = {}
    for i in range(n):
        h = _splitmix64(i)
        toks = ", ".join(f"'tok{(h >> (7 * j)) % 5000}'" for j in range(5))
        lo = 20 + (h % 55)
        hi = lo + 1 + ((h >> 6) % 6)
        lang = langs[(h >> 12) % len(langs)]
        tld = tlds[(h >> 18) % len(tlds)]
        band = (h >> 24) % 18
        t = (h >> 30) % 5
        if t == 0:
            subs[i] = (
                f"lang = '{lang}' and lead_tokens one of [{toks}] "
                f"and n_tokens >= {lo} and n_tokens < {hi}"
            )
        elif t == 1:
            subs[i] = (
                f"tld = '{tld}' and lead_tokens one of [{toks}] "
                f"or lang = '{lang}' and has_geo and n_tokens = {lo}"
            )
        elif t == 2:
            subs[i] = (
                f"has_geo and lat_band in [{band}] "
                f"and lead_tokens one of [{toks}] "
                f"and n_tokens > {lo} and n_tokens <= {hi}"
            )
        elif t == 3:
            subs[i] = (
                f"not has_geo and lang in ['{lang}'] "
                f"and lead_tokens one of [{toks}] "
                f"and lead_tokens none of ['tok{(h >> 36) % 5000}']"
            )
        else:
            subs[i] = (
                f"(lang = '{lang}' or tld = '{tld}') and n_tokens >= {lo} "
                f"and n_tokens < {hi} and lead_tokens one of [{toks}]"
            )
    return subs


def build_page_forest(n_subscriptions: int) -> ForestBuilder:
    builder = ForestBuilder(PAGE_ATTRIBUTES)
    with _gc_paused():
        for sub_id, expression in standing_page_subscriptions(
            n_subscriptions
        ).items():
            builder.insert(sub_id, expression)
    return builder


def match_pages(
    eventized: DataFrame,
    forest: ForestBuilder,
    carry: tuple = ("cell_id",),
) -> DataFrame:
    """Page matches keyed by xxhash64(url): one row per (page,
    subscription) hit. Requested columns are carried THROUGH the match
    stage (carry_cols) — no join back to the expensive event source, no
    extra shuffle, and by default no string payload in the hot output
    (urls recover via the page_key when needed)."""
    with_id = eventized.withColumn("page_key", F.xxhash64("url"))
    matches = match_events(
        with_id,
        forest,
        event_id_col="page_key",
        carry_cols=list(carry),
    )
    return matches.withColumnRenamed("event_id", "page_key")


def salted_cell_stats(matches: DataFrame) -> DataFrame:
    """Per-cell match statistics with explicit hot-key salting: phase 1
    groups by (cell_id, salt) — spreading a hot cell over SALT_BUCKETS
    reducers — phase 2 combines the partials. Counts combine by SUM
    (exact); the distinct-subscription estimate combines by HLL sketch
    UNION (``hll_union_agg``), which is the mathematically valid merge —
    round 1 took max() over per-salt ``approx_count_distinct`` values,
    a systematic under-estimate whenever a cell's subscriptions spread
    across salt buckets (VERDICT.md / ADVICE.md round 1).
    ``tests/test_web_pipeline.py`` pins this against
    ``exact_cell_sub_counts`` on a skewed fixture.

    No pipeline uses it: every per-cell aggregation is exact, through
    ``cell_stats_from_root_partials``. It stays only because the frozen
    ``bench.py`` imports it for a warm-up, and it is not exported from
    ``a_tree_spark.web``."""
    salted = matches.withColumn(
        "salt", F.pmod("page_key", F.lit(SALT_BUCKETS))
    )
    partial = salted.groupBy("cell_id", "salt").agg(
        F.count("*").alias("_n"),
        F.hll_sketch_agg("sub_id").alias("_hll"),
    )
    totals = partial.groupBy("cell_id").agg(
        F.sum("_n").alias("n_matches"),
        F.hll_sketch_estimate(F.hll_union_agg("_hll")).alias(
            "approx_distinct_subs"
        ),
    )
    return totals


def root_subscription_map(spark, forest: ForestBuilder) -> DataFrame:
    """(root_id, n_subs) DataFrame, one row per DISTINCT expression root
    (CSE class) of the snapshot's shared plan (planned_evaluator), in
    its root order. The crawl no longer reads it: the fused kernel
    writes n_subs into every partial row. It stays for callers that
    still pass it to ``cell_stats_from_root_partials``."""
    import numpy as np
    import pyarrow as pa

    n_subs = planned_evaluator(forest.compile()).root_sub_counts
    return spark.createDataFrame(pa.table({
        "root_id": np.arange(len(n_subs), dtype=np.int64),
        "n_subs": n_subs,
    }))


def cell_stats_from_root_partials(
    partials: DataFrame, root_map: DataFrame | None = None,
    level: int = DEFAULT_LEVEL,
) -> DataFrame:
    """Exact per-cell (cell_id, n_matches, n_distinct_subs) from the
    fused kernel's (ckey, n_matches, n_subs) partials, where ckey =
    (cell_key << sub_width) | root_id and n_subs is that root's
    subscriber count. ``root_map`` is unread; it is accepted for
    callers that still pass ``root_subscription_map``.

    The kernel emits per DISTINCT expression root; each subscription has
    exactly ONE root, so subs(root) PARTITIONS the subscription ids and
    the expansion is pure multiplicity: per-cell match count =
    sum(n * n_subs), and the distinct-subscription count is EXACT —
    sum of n_subs over the distinct roots present in the cell. One
    shuffle hashes the partials on the cell key into
    ``defaultParallelism`` partitions (a fixed count, so AQE does not
    coalesce it to one task); the per-(cell, ckey) and per-cell
    aggregates both run inside those partitions. The positionless
    sentinel cell becomes null only after the final aggregate."""
    sub_width = 63 - (2 * level + 1)
    sentinel = 1 << (2 * level)
    n_parts = partials.sparkSession.sparkContext.defaultParallelism
    return (
        partials.selectExpr(
            f"shiftright(ckey, {sub_width}) AS cell", "ckey", "n_matches", "n_subs"
        )
        .repartition(n_parts, "cell")
        .groupBy("cell", "ckey")
        .agg(F.expr("sum(n_matches) AS n"), F.expr("max(n_subs) AS n_subs"))
        .groupBy("cell")
        .agg(
            F.expr("sum(n * n_subs) AS n_matches"),
            F.expr("sum(n_subs) AS n_distinct_subs"),
        )
        .selectExpr(
            f"nullif(cell, {sentinel}) AS cell_id", "n_matches", "n_distinct_subs"
        )
    )


def exact_cell_sub_counts(matches: DataFrame) -> DataFrame:
    """Exact distinct-subscription count per cell via two-phase dedup:
    shuffle 1 on (cell_id, sub_id) — salt-free but skew-resistant since
    the key space is wider — then count per cell."""
    return (
        matches.select("cell_id", "sub_id")
        .distinct()
        .groupBy("cell_id")
        .agg(F.count("*").alias("n_distinct_subs"))
    )


def fused_match_pages(
    pages: DataFrame,
    forest: ForestBuilder,
    level: int = DEFAULT_LEVEL,
    emit: str = "cell_root_partials",
    fallback_counter=None,
    broadcast_out: list | None = None,
    group: str | None = None,
) -> DataFrame:
    """Single-Python-stage flagship kernel: extract + eventize + match
    in ONE mapInArrow pass.

    Why fused: chaining mapInArrow(extract) -> JVM projections ->
    mapInPandas(match) runs TWO Python workers per task — at local[32]
    that is 128 processes on 32 cores, and the measured pipeline was
    ~3x SLOWER at 32 threads than at 8. Fusing keeps one worker per
    task, halves Arrow boundary crossings, and never materializes the
    intermediate eventized columns. Feature extraction stays in
    pyarrow's C++ kernels (RE2 regex, split_pattern, list_slice);
    the page attributes go to the evaluator as one Arrow batch, through
    the matcher's own ingest (``BatchEvaluator.evaluate_arrow_roots``).

    Output: per-(cell, root) partials combined in the kernel, per task:
    ``PARTIAL_COLUMNS`` = (ckey, n_matches, n_subs) with ckey = (cell
    key << sub_width) | root_id and n_subs the root's subscriber count,
    read from the broadcast plan (``root_sub_counts``). At ~40
    matches/page a per-match stream would dominate the Arrow boundary
    and the shuffle. ``cell_stats_from_root_partials`` turns the
    partials into exact per-cell statistics with no join. ``emit``
    accepts only "cell_root_partials"; the frozen benchmark passes it
    by name.

    ``group`` names a non-null integer column carried through: the
    combine runs on (group, ckey) and the output is (<group> long, ckey,
    n_matches, n_subs), e.g. per work unit for a resumable job.
    ``pages`` needs only url, html, lang and the group column.

    The evaluator is the snapshot's shared plan, broadcast as it is
    (``engine.matcher.broadcast_evaluator``).

    ``fallback_counter`` (a ``sparkContext.accumulator(0)``) receives
    the number of rows whose html the fast RE2 pattern can't represent
    and that therefore take the per-row python ``extract_text`` path —
    read it after an action. A corpus shift that degrades the fast
    path (e.g. multi-``<p>`` pages) is invisible in the output but
    devastating to throughput; the counter makes it observable
    (VERDICT round 4 item 5). Zero on the synthetic corpus.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import IntegralType

    from ..spatial.cells import cell_id as cell_id_np
    from .extract import page_features

    if emit != "cell_root_partials":
        raise ValueError(f"emit must be 'cell_root_partials', got {emit!r}")
    if group and not isinstance(pages.schema[group].dataType, IntegralType):
        raise TypeError(f"group column {group!r} must be an integer column")
    evaluator, bc = broadcast_evaluator(pages.sparkSession, forest.compile())
    if broadcast_out is not None:
        # hand the caller the broadcast handle so it can destroy it
        # once a materialized pass no longer needs it (the sharded
        # isolate mode's per-worker memory bound)
        broadcast_out.append(bc)

    # (cell, root) int64 packing contract: the cell key (incl. the
    # positionless sentinel 2^2L) needs 2*level+1 bits, leaving
    # sub_width bits for root ids. Checked HERE, at plan time, so an
    # oversized root id fails loudly instead of silently merging counts
    # under a wrong (cell, root).
    sub_width = 63 - (2 * level + 1)
    if len(evaluator.root_nodes) >= (1 << sub_width):
        raise ValueError(
            f"root ids must fit in {sub_width} bits at level {level}"
        )
    root_mask = np.int64((1 << sub_width) - 1)
    # the combine key: the packed ckey alone (a 1-D np.unique, the
    # flagship's), or (group, ckey) rows unique along axis 0
    unique_axis = None if group is None else 0
    carried = [group] if group else []
    out = carried + list(PARTIAL_COLUMNS)

    # centroid per tld code of pc.index_in over the table's tlds; the
    # trailing NaN slot takes an unknown or null tld
    known_tlds = pa.array(list(TLD_CENTROIDS), type=pa.string())
    centroids = np.array(
        list(TLD_CENTROIDS.values()) + [(np.nan, np.nan)], dtype=np.float64
    )

    def run(batches):
        ev = bc.value
        # task-level combine state: keys repeat across the task's
        # batches (hot cells x shared roots), so the final np.unique
        # over the whole task emits each distinct key ONCE per task
        # instead of once per 4096-row batch — less Arrow boundary
        # traffic and fewer shuffle rows for free. Memory is bounded:
        # chunks hold (distinct keys per batch) longs.
        task_keys: list = []
        task_counts: list = []

        for batch in batches:
            if batch.num_rows == 0:
                continue
            text, meta_lat, meta_lon, tld = page_features(
                batch.column(batch.schema.get_field_index("html")),
                batch.column(batch.schema.get_field_index("url")),
                fallback_counter,
            )
            meta_lat = meta_lat.to_numpy(zero_copy_only=False)
            meta_lon = meta_lon.to_numpy(zero_copy_only=False)
            toks = pc.split_pattern(text, " ")

            has_geo = ~np.isnan(meta_lat)
            tld_code = pc.fill_null(
                pc.index_in(tld, value_set=known_tlds), len(known_tlds)
            ).to_numpy(zero_copy_only=False)
            lat = np.where(has_geo, meta_lat, centroids[tld_code, 0])
            lon = np.where(has_geo, meta_lon, centroids[tld_code, 1])
            no_pos = np.isnan(lat) | np.isnan(lon)
            cells = cell_id_np(np.nan_to_num(lat), np.nan_to_num(lon), level)
            lat_band = np.floor((np.nan_to_num(lat) + 90.0) / 10.0).astype(np.int64)

            events = pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("lang")),
                    tld,
                    pc.list_value_length(toks),
                    pa.array(has_geo),
                    pa.array(lat_band, mask=no_pos),
                    pc.list_slice(toks, 0, 8),
                ],
                names=PAGE_ATTRIBUTES.names(),
            )
            rows, roots = ev.evaluate_arrow_roots(events)
            # root-level in-kernel combine: one row per (cell, root) per
            # batch. CSE shares one root across ~4.3 subs on the
            # templated workload and a row matches ~17x fewer roots than
            # subs, so the Arrow boundary + shuffle carry that much
            # less; each emitted row carries its root's n_subs, and the
            # root->subscription expansion happens AFTER the per-cell
            # combine — counts expand by pure multiplicity and
            # distinct-sub counts are EXACT (each sub has exactly one
            # root). The packed np.unique key ships AS-IS (one int64
            # column); cell_stats_from_root_partials unpacks the cell
            # after its one shuffle.
            sentinel = np.int64(1) << (2 * level)
            cell_key = np.where(no_pos[rows], sentinel, cells[rows])
            key = (cell_key << sub_width) | roots
            if group is not None:
                # zero-copy to_numpy refuses a null group value
                groups = batch.column(
                    batch.schema.get_field_index(group)
                ).to_numpy().astype(np.int64)
                key = np.stack([groups[rows], key], axis=1)
            uniq, counts = np.unique(key, axis=unique_axis, return_counts=True)
            task_keys.append(uniq)
            task_counts.append(counts.astype(np.int64))

        if task_keys:
            all_keys = np.concatenate(task_keys)
            all_counts = np.concatenate(task_counts)
            uniq, inverse = np.unique(
                all_keys, axis=unique_axis, return_inverse=True
            )
            combined = np.zeros(len(uniq), dtype=np.int64)
            np.add.at(combined, inverse.reshape(-1), all_counts)
            keys = [uniq] if group is None else [uniq[:, 0], uniq[:, 1]]
            n_subs = ev.root_sub_counts[keys[-1] & root_mask]
            yield pa.RecordBatch.from_arrays(
                [pa.array(k, type=pa.int64()) for k in keys + [combined, n_subs]],
                names=out,
            )

    # Python-boundary column pruning: the kernel reads url/html/lang
    # (and the group) only — shipping text+warc_ts through Arrow costs
    # ~40% more socket memcpy per page for nothing (and memory traffic
    # is what breaks 8->32-worker scaling on one box: measured 1.6x
    # per-core inflation at 32 workers in a zero-steal window)
    pruned = pages.select("url", "html", "lang", *carried)
    return pruned.mapInArrow(run, schema=", ".join(f"{c} long" for c in out))


def write_eventized_bucketed(
    eventized: DataFrame,
    table: str = "eventized_pages",
    n_buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist the eventized crawl bucketed AND per-bucket sorted by
    ``cell_id`` — the flagship's 'pay the shuffle once' table. Every
    downstream per-cell operation (stats rollup, history join, polygon
    refinement) then reads bucket i against bucket i with ZERO Exchange
    (``bucketed_cell_history``). Positionless pages (NULL cell) carry
    no spatial key and are excluded — they'd all hash into one bucket
    and every per-cell join drops them anyway."""
    from ..engine.bucketing import write_bucketed

    write_bucketed(
        eventized.where(F.col("cell_id").isNotNull()),
        table,
        n_buckets,
        ["cell_id"],
        sort_cols=["cell_id"],
        path=path,
        mode=mode,
    )


def bucketed_cell_history(
    spark, pages_table: str, stats_table: str
) -> DataFrame:
    """Per-cell crawl-vs-history comparison over two cell_id-bucketed
    tables: (cell_id, n_pages, avg_tokens) from the current crawl
    joined with the previous crawl's match statistics. The aggregation
    inherits the scan's bucket partitioning and the join reads bucket i
    against bucket i, so the executed plan has NO Exchange anywhere —
    pinned by tests/test_web_pipeline.py::
    test_flagship_bucketed_cell_join_exchange_free with an unbucketed
    control, and measured against the shuffled join in
    BENCH/BASELINE.md (VERDICT round 4 item 3). At 100 TB this is the
    recurring nightly shape: the bucketed write of each crawl pays its
    shuffle once; every per-cell join and rollup after that is local."""
    now = (
        spark.table(pages_table)
        .groupBy("cell_id")
        .agg(
            F.count("*").alias("n_pages"),
            F.avg("n_tokens").alias("avg_tokens"),
        )
    )
    return now.join(spark.table(stats_table), "cell_id").select(
        "cell_id", "n_pages", "avg_tokens", "n_matches", "n_distinct_subs"
    )


#: ~8 MB evaluator at the measured ~160 B/node — the regime where the
#: packed sweep working set stays cache-friendly and per-run broadcast
#: re-ship is cheap. BENCH/BASELINE.md round 5: the 24.4 MB 1e6-sub
#: single forest swung 2.7x across windows while 4 x 6.35 MB shards ran
#: within 3.5% at equal-or-better throughput. The ~160 B/node basis
#: predates the array plan, which pickles at 38-53 B/node (1.47 MB for
#: the skewed generator's 27,710-node 10k forest); the value is kept
#: from its 32-core runs until a re-measure there.
SHARD_TARGET_NODES = 50_000

#: throughput cap on the shard count: every shard is one more full
#: page pass (the fused kernel re-reads and re-extracts per shard) and
#: one more per-worker broadcast unpickle. Measured at 1M DISTINCT
#: roots (3.65M nodes, 200k pages, round 6): the uncapped ceil rule
#: picked 73 shards and ran 1836s; 8 shards ran 444s (4.1x) and 16 ran
#: 586s — past ~8 the extract/broadcast repay dominates on this box.
MAX_AUTO_SHARDS = 8

#: capacity floor that overrides the cap: a shard beyond ~600k nodes
#: (~96 MB pickled evaluator, >0.5 GB unpickled per python worker) is
#: what OOMed the 128 GB box at k=2 x 1.9M nodes — at 10M+ distinct
#: roots the shard count must grow past MAX_AUTO_SHARDS because
#: executor memory, not throughput, binds. The ~96 MB pickled basis
#: predates the array plan (38-53 B/node pickled now); the value is
#: kept from its 32-core runs until unpickled worker memory per node
#: is re-measured there.
MAX_NODES_PER_SHARD = 600_000


def choose_shards(num_nodes: int) -> int:
    """Measured sharding guidance. Throughput rule: one forest per
    ~SHARD_TARGET_NODES compiled nodes (ceil), capped at
    MAX_AUTO_SHARDS — each shard is a full page pass, and the round-6
    1M-distinct-root A/B measured the uncapped rule 4.1x slower than
    the cap. Capacity rule (wins when larger): enough shards that no
    single broadcast exceeds MAX_NODES_PER_SHARD. Callers that already
    built a ForestBuilder can pass ``builder.compile().num_nodes``;
    1 for every workload below ~50k nodes (the 100k-sub flagship
    compiles to ~39k)."""
    throughput_k = min(
        max(1, -(-num_nodes // SHARD_TARGET_NODES)), MAX_AUTO_SHARDS
    )
    capacity_k = max(1, -(-num_nodes // MAX_NODES_PER_SHARD))
    return max(throughput_k, capacity_k)


def count_forest_nodes(subscriptions: dict[int, str]) -> int:
    """EXACT compiled node count of a subscription set at
    distinct-insert cost, so ``run_pipeline(n_shards="auto")`` can pick
    a shard count up front without paying the full forest build twice.

    Key fact (pinned by tests/test_web_pipeline.py): re-inserting an
    expression string that is already in the forest appends ZERO nodes
    — the walk stops at the compiler's (op, child, child) node key and
    only the sub-id list grows. So inserting each DISTINCT expression
    once yields the same node count as inserting all N, and real workloads are heavily
    repetitive (the 1e6-sub flagship mix has ~36k distinct roots:
    BENCH/BASELINE.md). Sampling estimators were tried first and
    rejected by measurement: node growth here is linear until the
    template cycle closes (~1.8 nodes/sub), then flat (0.2) — a knee no
    prefix/marginal/power-law extrapolation from 2k samples can see
    (prefix marginal-rate overshot 4.7x at 100k subs), and a wrong
    shard count is expensive in BOTH directions (undershard: broadcast
    too big; overshard: one extra full Arrow page pass per shard)."""
    seen: set[str] = set()
    builder = ForestBuilder(PAGE_ATTRIBUTES)
    with _gc_paused():
        for sub_id, expression in subscriptions.items():
            if expression in seen:
                continue
            seen.add(expression)
            builder.insert(sub_id, expression)
    return builder.live_node_count


def shard_subscriptions(
    subscriptions: dict[int, str], n_shards: int
) -> list[dict[int, str]]:
    """Deterministic partition of the subscription set into n_shards
    disjoint sets (by sub_id modulus). Sharding is how the engine takes
    the reference's 'arbitrarily many expressions' capability
    (src/lib.rs:67-87) past what one broadcast forest should hold
    (~10M distinct roots): each shard compiles, broadcasts, and
    matches independently, and the packed (cell, root) partials union
    before the unchanged downstream aggregation.

    Routing mixes the sub id through splitmix64 first: a plain
    ``sub_id % k`` resonates with workload template cycles whenever k
    divides the cycle length (measured on the 100k standing set: k=5
    put 20,000 of 23,168 distinct expressions in ONE shard — a
    broadcast as big as the unsharded forest, the exact failure
    sharding exists to avoid — while the mixed route is ~even at
    every k)."""
    from ..pipeline.dedup import _splitmix64

    shards: list[dict[int, str]] = [dict() for _ in range(n_shards)]
    for sub_id, expression in subscriptions.items():
        shards[_splitmix64(sub_id) % n_shards][sub_id] = expression
    return shards


import contextlib


@contextlib.contextmanager
def _gc_paused():
    """Pause the cyclic collector across driver-side mass inserts: a
    million parsed ASTs are a worst case for generational GC (measured
    2.25x on 100k diverse inserts: 39.4s -> 17.5s). The forest holds
    no reference cycles, so deferring collection is free; always
    re-enabled, and only if it was on."""
    import gc

    was_enabled = gc.isenabled()
    gc.disable()
    try:
        yield
    finally:
        if was_enabled:
            gc.enable()


def build_forests(shards: list[dict[int, str]]) -> list[ForestBuilder]:
    forests = []
    with _gc_paused():
        for shard in shards:
            builder = ForestBuilder(PAGE_ATTRIBUTES)
            for sub_id, expression in shard.items():
                builder.insert(sub_id, expression)
            forests.append(builder)
    return forests


def sharded_root_partials(
    keyed_pages: DataFrame,
    forests: list[ForestBuilder],
    level: int = DEFAULT_LEVEL,
    isolate_shards: bool = False,
    group: str | None = None,
):
    """The unioned ``fused_match_pages`` partials of k independent
    forests. Per-shard root ids are made globally unique by adding the
    cumulative root-count offset — the packed ckey's low ``sub_width``
    bits hold the root id, and offset + shard-local id never carries
    into the cell field because the total root count is guarded against
    2^sub_width. Each row's n_subs is its shard root's own count.
    Downstream (``cell_stats_from_root_partials``) is UNCHANGED:
    subscriptions partition across shards, so an expression CSE-shared
    inside one forest splits into per-shard roots whose n_subs sum to
    the single-forest value — per-cell match counts (sum n*n_subs) and
    exact distinct-sub counts (sum n_subs over roots present) are
    identical by construction, pinned by
    tests/test_web_pipeline.py::test_sharded_forest_equals_single.
    ``group`` passes through to every shard's ``fused_match_pages``.

    Scale shape: each shard is its own broadcast (an executor group can
    hold one shard each on a real cluster) and its own map pass over
    the pages; the union adds no shuffle — the ONE shuffle on the cell
    key happens after the union, over all shards' partials alike."""
    from functools import reduce

    sub_width = 63 - (2 * level + 1)
    parts: list[DataFrame] = []
    offset = 0
    held = Held()
    for forest in forests:
        n_roots = len(planned_evaluator(forest.compile()).root_sub_counts)
        handles: list = []
        p = fused_match_pages(
            keyed_pages, forest, level,
            broadcast_out=handles if isolate_shards else None,
            group=group,
        )
        if offset:
            p = p.withColumn("ckey", F.col("ckey") + F.lit(offset))
        if isolate_shards:
            # ``isolate_shards``: run each shard's page pass as its own
            # eager job and DESTROY its evaluator broadcast once the
            # (tiny, per-(cell,root)-combined) partials are
            # materialized. Reused python workers evict destroyed
            # broadcasts at their next task, so live worker memory is
            # bounded by ONE shard evaluator at a time — the local-mode
            # emulation of a real cluster's disjoint executor groups,
            # where the one-job union form would instead accumulate
            # every shard's evaluator in every worker (the same
            # all-shards-resident shape that makes the unsharded forest
            # OOM at 32 workers). Output rows are identical: the union
            # is over the same per-shard relations, materialized or
            # not (pinned by test_sharded_isolate_equals_union).
            p = held.checkpoint(p, eager=True)
            for h in handles:
                h.destroy()
        parts.append(p)
        offset += n_roots
    if offset >= (1 << sub_width):
        held.release()
        raise ValueError(
            f"total distinct roots {offset} across {len(forests)} shards "
            f"must fit in {sub_width} bits at level {level}"
        )
    if isolate_shards:
        retain(held)
    return reduce(DataFrame.union, parts)


def run_pipeline(
    spark,
    n_pages: int,
    n_subscriptions: int,
    level: int = DEFAULT_LEVEL,
    pages: DataFrame | None = None,
    n_shards: int | str = 1,
    workload: str = "standing",
) -> DataFrame:
    """End-to-end: synthesize (or accept) pages, match with the fused
    kernel, aggregate to exact per-cell (cell_id, n_matches,
    n_distinct_subs).
    ``n_shards`` (at least 1) partitions the subscription set into
    independent forests whose partials union before the one downstream
    aggregation — the 10M-distinct-root scale path (sharded_root_partials).
    ``n_shards="auto"`` derives the count from the exact node total at
    distinct-insert cost (count_forest_nodes -> choose_shards) without
    building the forest twice.
    ``workload`` picks the subscription generator: "standing"
    (templated, CSE-heavy), "skewed" (Zipf widths / hot attributes), or
    "diverse" (splitmix64 literals, distinct roots ≈ n — the
    ≥1M-distinct-root sharding regime).
    """
    from .synth import synth_pages_df

    generators = {
        "standing": standing_page_subscriptions,
        "skewed": skewed_page_subscriptions,
        "diverse": diverse_page_subscriptions,
    }
    if workload not in generators:
        raise ValueError(f"workload must be one of {sorted(generators)}")
    subs = generators[workload](n_subscriptions)
    if n_shards == "auto":
        n_shards = choose_shards(count_forest_nodes(subs))
    n_shards = int(n_shards)   # accept CLI/config strings like "4"
    if n_shards < 1:
        raise ValueError(f"n_shards must be at least 1, got {n_shards}")
    if pages is None:
        pages = synth_pages_df(spark, n_pages)
    forests = build_forests(shard_subscriptions(subs, n_shards))
    partials = sharded_root_partials(pages, forests, level)
    # level MUST be forwarded: the unpack widths are level-derived and a
    # mismatch silently corrupts every cell id (ADVICE r3)
    return cell_stats_from_root_partials(partials, level=level)
