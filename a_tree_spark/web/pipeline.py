"""The fused north-star pipeline: pages -> extract -> geotag -> cells ->
predicate match -> exact per-cell aggregation.

This is the engine's flagship at scale (BASELINE.json north_star): web
pages from an Iceberg/parquet table are eventized into the six-type
attribute system, matched against a standing subscription forest, and
aggregated per spatial cell. Stage layout of the default fused path
(``fused_match_pages`` + ``cell_stats_from_root_partials``):

  scan -> mapInArrow(fused kernel)      [broadcast evaluator: RE2 extract,
                                         geotag + cell, match, in-kernel
                                         (cell, root) combine]
       -> keyed shuffle on ckey         [map-side combined packed key]
       -> broadcast join on root_id     [(root_id, n_subs) root map]
       -> per-cell aggregate            [exact counts, AQE-coalesced]

The evaluator is planned once per forest snapshot
(``expr.vector.planned_evaluator``) and shared by the kernel's
broadcast and the root map; the root map is built from Arrow columns,
so its side of the join runs no Python job. Hot ccTLD centroids
concentrate matches in a few cells; the in-kernel and map-side combines
collapse them before the shuffle.

The composable strategies (``eventize_pages`` -> ``match_pages`` ->
``salted_cell_stats``) keep the salted HLL aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..engine.matcher import broadcast_evaluator, match_events
from ..expr import AttributeDefinition as A, AttributeTable, ForestBuilder
from ..expr.vector import planned_evaluator
from ..spatial.cells import DEFAULT_LEVEL
from .extract import with_page_features
from .geotag import geotag_pages
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
    tlds = sorted({row[0].split("-")[-1] for row in TLD_TABLE})
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
      elements, cost 8-16 in the reference cost model) — the generic
      lazy leaves that flip the cost-model access pruning ON
      (choose_access_pruning), pinned by
      tests/test_web_pipeline.py::test_skewed_workload_flips_pruning_on."""
    langs = [row[1] for row in TLD_TABLE]
    hot_langs = langs[:3]
    tlds = sorted({row[0].split("-")[-1] for row in TLD_TABLE})
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
    tlds = sorted({row[0].split("-")[-1] for row in TLD_TABLE})
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
    strategy: str = "vectorized",
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
        strategy=strategy,
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
    ``exact_cell_sub_counts`` on a skewed fixture."""
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
    """Tiny (root_id, n_subs) DataFrame for the post-shuffle expansion
    of root-level partials — one row per DISTINCT expression root (CSE
    class), broadcastable at any subscription count (23k rows for the
    100k-sub workload).

    Root ids index the snapshot's shared plan (planned_evaluator), the
    same plan the fused kernel broadcasts. The table ships as two int64
    Arrow columns: a list of Python tuples would become a Python-worker
    RDD whose own job, scheduled beside the kernel's stage, held every
    core to build a 10k-row broadcast."""
    import numpy as np
    import pyarrow as pa

    counts = planned_evaluator(forest.compile()).root_sub_counts
    return spark.createDataFrame(pa.table({
        "root_id": np.arange(len(counts), dtype=np.int64),
        "n_subs": counts,
    }))


def cell_stats_from_root_partials(
    partials: DataFrame, root_map: DataFrame, level: int = DEFAULT_LEVEL
) -> DataFrame:
    """Per-cell statistics from in-kernel packed (ckey, n) partials,
    where ckey = (cell_key << sub_width) | root_id — the kernel's own
    np.unique key, shipped as-is so the shuffle carries ONE int64 key
    instead of two columns (at 1e5 subscriptions the partials stream is
    ~17 rows/page and this shuffle is ~25% of flagship wall time).

    The kernel emits per DISTINCT expression root; each subscription has
    exactly ONE root, so subs(root) PARTITIONS the subscription ids and
    the expansion is pure multiplicity: per-cell match count =
    sum(n * n_subs), and the distinct-subscription count is EXACT —
    sum of n_subs over the distinct roots present in the cell — where
    the sub-level path needed an HLL sketch. One keyed shuffle on ckey
    (map-side combined), a post-shuffle unpack projection, a broadcast
    join with the root map, and a second (AQE-coalesced,
    already-combined) per-cell shuffle."""
    sub_width = 63 - (2 * level + 1)
    sentinel = 1 << (2 * level)
    per_key = partials.groupBy("ckey").agg(F.sum("n_matches").alias("n"))
    cell = F.shiftright(F.col("ckey"), sub_width)
    per_root = per_key.select(
        F.when(cell == sentinel, F.lit(None)).otherwise(cell).alias("cell_id"),
        F.col("ckey").bitwiseAND(F.lit((1 << sub_width) - 1)).alias("root_id"),
        "n",
    )
    return (
        per_root.join(F.broadcast(root_map), "root_id")
        .groupBy("cell_id")
        .agg(
            F.sum(F.col("n") * F.col("n_subs")).alias("n_matches"),
            F.sum("n_subs").alias("n_distinct_subs"),
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
    emit: str = "matches",
    access_pruning: bool | None = None,
    fallback_counter=None,
    broadcast_out: list | None = None,
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
    matching reuses BatchEvaluator via prepared column caches.

    Output (emit="matches"): (page_key, cell_id, sub_id) — page_key is
    a caller-supplied unique id column (monotonically_increasing_id).

    emit="cell_root_partials" combines in the kernel, per task, to
    (ckey, n_matches) with ckey = (cell key << sub_width) | root_id: at
    ~40 matches/page the raw match stream would dominate the Arrow
    boundary and the shuffle. ``cell_stats_from_root_partials`` turns
    the partials into exact per-cell statistics with the root map
    (``root_subscription_map``).

    The evaluator is the snapshot's shared plan; what ships is a copy
    carrying this call's ``access_pruning`` (None = cost-model auto),
    see ``engine.matcher.broadcast_evaluator``.

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

    from ..expr.vector import scalar_column
    from ..spatial.cells import cell_id as cell_id_np
    from .extract import extract_text
    from .synth import TLD_TABLE

    if emit not in ("matches", "cell_root_partials"):
        raise ValueError(
            f"emit must be 'matches' or 'cell_root_partials', got {emit!r}"
        )
    # same cost-model default as match_events: two-phase access pruning
    # composes with the fused root-partials kernel (round 2 kept them
    # exclusive, VERDICT.md item 7) — evaluate_prepared_roots dispatches
    # on the flag either way
    evaluator, bc = broadcast_evaluator(
        pages.sparkSession, forest.compile(), access_pruning
    )
    if broadcast_out is not None:
        # hand the caller the broadcast handle so it can destroy it
        # once a materialized pass no longer needs it (the sharded
        # isolate mode's per-worker memory bound)
        broadcast_out.append(bc)

    # (cell, root) int64 packing contract for emit="cell_root_partials":
    # the cell key (incl. the positionless sentinel 2^2L) needs
    # 2*level+1 bits, leaving sub_width bits for root ids. Checked HERE,
    # at plan time, so an oversized root id fails loudly instead of
    # silently merging counts under a wrong (cell, root).
    sub_width = 63 - (2 * level + 1)
    if emit == "cell_root_partials" and len(evaluator.root_nodes) >= (1 << sub_width):
        raise ValueError(
            f"root ids must fit in {sub_width} bits at level {level}"
        )

    centroid_lat: dict[str, float] = {}
    centroid_lon: dict[str, float] = {}
    for t, _lang, clat, clon, _w in TLD_TABLE:
        key = t.split("-")[-1]
        centroid_lat.setdefault(key, clat)
        centroid_lon.setdefault(key, clon)

    names = PAGE_ATTRIBUTES.names()
    idx = {name: i for i, name in enumerate(names)}
    # The general extractor pattern is (?s)<p>(.*?)</p> — but lazy
    # dot-all costs 2.4x more RE2 time than the 'no tags inside' form,
    # and regex scanning over html is the kernel's single largest cost
    # (69ms vs 29ms per 8k batch). The fast pattern is exact whenever it
    # matches the unique <p>; rows it CAN'T represent (several <p>, or a
    # paragraph containing '<', or an unclosed tag) fall back to the
    # python oracle, keeping extraction byte-identical on ALL inputs.
    p_fast_pattern = r"<p>(?P<t>[^<]*)</p>"
    geo_pattern = r'geo\.position" content="(?P<glat>-?[0-9.]+);(?P<glon>-?[0-9.]+)"'
    tld_pattern = r"^https?://[^/]*\.(?P<tld>[a-z]+)/"

    def run(batches):
        ev = bc.value
        # task-level combine state for emit="cell_root_partials": keys
        # repeat across the task's batches (hot cells x shared roots),
        # so the final np.unique over the whole task emits each distinct
        # (cell, root) ONCE per task instead of once per 4096-row batch
        # — less Arrow boundary traffic and fewer shuffle rows for free.
        # Memory is bounded: chunks hold (distinct keys per batch) longs.
        task_keys: list = []
        task_counts: list = []

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            html = pc.cast(batch.column(batch.schema.get_field_index("html")), pa.string())
            url = batch.column(batch.schema.get_field_index("url"))
            page_key = batch.column(batch.schema.get_field_index("page_key")).to_numpy()

            text_fast = pc.struct_field(
                pc.extract_regex(html, p_fast_pattern), "t"
            )
            n_p = pc.count_substring(html, "<p>")
            needs_py = pc.or_(
                pc.greater(n_p, 1),
                pc.and_(pc.equal(n_p, 1), pc.is_null(text_fast)),
            )
            text = pc.fill_null(text_fast, "")
            if pc.any(needs_py).as_py():
                if fallback_counter is not None:
                    fallback_counter.add(
                        pc.sum(pc.cast(needs_py, pa.int64())).as_py()
                    )
                py_text = text.to_pylist()
                py_html = html.to_pylist()
                for i, m in enumerate(needs_py.to_pylist()):
                    if m:
                        py_text[i] = extract_text(py_html[i])
                text = pa.array(py_text, type=pa.string())

            geo = pc.extract_regex(html, geo_pattern)
            meta_lat = pc.cast(pc.struct_field(geo, "glat"), pa.float64()).to_numpy(
                zero_copy_only=False
            )
            meta_lon = pc.cast(pc.struct_field(geo, "glon"), pa.float64()).to_numpy(
                zero_copy_only=False
            )
            # dictionary-encode the string attribute columns ONCE per
            # batch: only the ~dozens of UNIQUE tld/lang values become
            # Python objects; per-row data crossing into the evaluator
            # is int64 codes (guide §2.3 narrower types / §4.2 — and
            # the round-7 DRAM-ceiling decomposition's first candidate:
            # cut bytes per doc crossing Arrow)
            tld = pc.struct_field(pc.extract_regex(url, tld_pattern), "tld")
            tld_enc = pc.dictionary_encode(tld)
            tld_uniques = tld_enc.dictionary.to_pylist()
            tld_codes = (
                pc.fill_null(tld_enc.indices, -1)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            tld_mask = tld_codes == -1
            lang_enc = pc.dictionary_encode(
                batch.column(batch.schema.get_field_index("lang"))
            )
            lang_uniques = lang_enc.dictionary.to_pylist()
            lang_codes = (
                pc.fill_null(lang_enc.indices, -1)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            lang_mask = lang_codes == -1

            toks = pc.split_pattern(text, " ")
            n_tokens = pc.list_value_length(toks).to_numpy().astype(np.int64)
            lead = pc.list_slice(toks, 0, 8)

            has_geo = ~np.isnan(meta_lat)
            # centroid lookup over the UNIQUE tlds (a ~26-entry python
            # loop), gathered per row through the dictionary codes —
            # the per-row pandas .map built an object column each batch
            u_lat = np.array(
                [centroid_lat.get(u, np.nan) for u in tld_uniques]
                + [np.nan],   # trailing slot: null tld (code -1)
                dtype=np.float64,
            )
            u_lon = np.array(
                [centroid_lon.get(u, np.nan) for u in tld_uniques]
                + [np.nan],
                dtype=np.float64,
            )
            cent_lat = u_lat[tld_codes]
            cent_lon = u_lon[tld_codes]
            lat = np.where(has_geo, meta_lat, cent_lat)
            lon = np.where(has_geo, meta_lon, cent_lon)
            no_pos = np.isnan(lat) | np.isnan(lon)
            cells = cell_id_np(np.nan_to_num(lat), np.nan_to_num(lon), level)
            lat_band = np.floor((np.nan_to_num(lat) + 90.0) / 10.0).astype(np.int64)

            none_mask = np.zeros(n, dtype=bool)
            out_rows, out_subs = [], []
            chunk = ev._chunk_rows(n)
            for start in range(0, n, chunk):
                stop = min(start + chunk, n)
                sl = slice(start, stop)
                cache = {
                    idx["lang"]: scalar_column(
                        lang_mask[sl],
                        codes=lang_codes[sl], uniques=lang_uniques,
                    ),
                    idx["tld"]: scalar_column(
                        tld_mask[sl],
                        codes=tld_codes[sl], uniques=tld_uniques,
                    ),
                    idx["n_tokens"]: scalar_column(none_mask[sl], n_tokens[sl]),
                    idx["has_geo"]: scalar_column(none_mask[sl], has_geo[sl]),
                    idx["lat_band"]: scalar_column(no_pos[sl], lat_band[sl]),
                    # the matcher's own list encoding: the lead tokens
                    # encode once, in Arrow, into codes of the forest's
                    # literal vocabulary, and the int64 codes feed both
                    # the member group and the generic all of / none of
                    # leaves (no token becomes a Python string)
                    idx["lead_tokens"]: ev.list_column(
                        lead.slice(start, stop - start), idx["lead_tokens"]
                    ),
                }
                rows, hits = ev.evaluate_prepared_roots(cache, stop - start)
                if emit != "cell_root_partials":
                    rows, hits = ev.expand_roots(rows, hits)
                out_rows.append(rows + start)
                out_subs.append(hits)

            rows = np.concatenate(out_rows)
            subs = np.concatenate(out_subs)
            if emit == "cell_root_partials":
                # root-level in-kernel combine: one row per (cell, root)
                # per batch. CSE shares one root across ~4.3 subs on the
                # templated workload and a row matches ~17x fewer roots
                # than subs, so the Arrow boundary + shuffle carry that
                # much less; the root->subscription expansion happens
                # AFTER the per-cell combine as a broadcast join against
                # the (root_id, n_subs) map (root_subscription_map) —
                # counts expand by pure multiplicity and distinct-sub
                # counts become EXACT (each sub has exactly one root).
                # The packed np.unique key ships AS-IS (one int64 column)
                # — cell_stats_from_root_partials unpacks it after the
                # keyed shuffle, so the hot shuffle is 2 longs wide.
                sentinel = np.int64(1) << (2 * level)
                cell_key = np.where(no_pos[rows], sentinel, cells[rows])
                key = (cell_key << sub_width) | subs
                uniq, counts = np.unique(key, return_counts=True)
                task_keys.append(uniq)
                task_counts.append(counts.astype(np.int64))
                continue
            cell_out = np.where(no_pos[rows], None, cells[rows])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(page_key[rows], type=pa.int64()),
                    pa.array(cell_out, type=pa.int64()),
                    pa.array(subs, type=pa.int64()),
                ],
                names=["page_key", "cell_id", "sub_id"],
            )

        if task_keys:
            all_keys = np.concatenate(task_keys)
            all_counts = np.concatenate(task_counts)
            uniq, inverse = np.unique(all_keys, return_inverse=True)
            combined = np.zeros(len(uniq), dtype=np.int64)
            np.add.at(combined, inverse, all_counts)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(uniq, type=pa.int64()),
                    pa.array(combined, type=pa.int64()),
                ],
                names=["ckey", "n_matches"],
            )

    # Python-boundary column pruning: the kernel reads url/html/lang/
    # page_key only — shipping text+warc_ts through Arrow costs ~40% more
    # socket memcpy per page for nothing (and memory traffic is what
    # breaks 8->32-worker scaling on one box: measured 1.6x per-core
    # inflation at 32 workers in a zero-steal window)
    pruned = pages.select("url", "html", "lang", "page_key")
    if emit == "cell_root_partials":
        return pruned.mapInArrow(run, schema="ckey long, n_matches long")
    return pruned.mapInArrow(run, schema="page_key long, cell_id long, sub_id long")


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


def bucketed_page_enrichment(
    spark, pages_table: str, stats_table: str
) -> DataFrame:
    """ROW-LEVEL per-page enrichment: attach the cell's historical match
    statistics to every page row. This is the join shape where bucketing
    actually pays: no pre-aggregation can shrink the shuffle (the output
    keeps one row per page), so the plain-table plan moves EVERY page
    row through an Exchange on cell_id, while the bucketed plan joins
    bucket i against bucket i with zero data movement. The
    aggregate-then-join shape (``bucketed_cell_history``) measures ~even
    with or without buckets — Spark's partial aggregation already
    reduces its shuffle to one row per cell — which is exactly why the
    enrichment shape is the one to design the table layout around
    (measured in BENCH/BASELINE.md)."""
    return spark.table(pages_table).join(
        spark.table(stats_table), "cell_id"
    )


#: ~8 MB evaluator at the measured ~160 B/node — the regime where the
#: packed sweep working set stays cache-friendly and per-run broadcast
#: re-ship is cheap. BENCH/BASELINE.md round 5: the 24.4 MB 1e6-sub
#: single forest swung 2.7x across windows while 4 x 6.35 MB shards ran
#: within 3.5% at equal-or-better throughput.
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
#: executor memory, not throughput, binds.
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
    — the walk terminates in the canonical-id map and only the sub-id
    list grows. So inserting each DISTINCT expression once yields the
    same node count as inserting all N, and real workloads are heavily
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
):
    """(unioned packed partials, unioned root map) across k independent
    forests. Per-shard root ids are made globally unique by adding the
    cumulative root-count offset — the packed ckey's low ``sub_width``
    bits hold the root id, and offset + shard-local id never carries
    into the cell field because the total root count is guarded against
    2^sub_width. Downstream (``cell_stats_from_root_partials``) is
    UNCHANGED: subscriptions partition across shards, so an expression
    CSE-shared inside one forest splits into per-shard roots whose
    n_subs sum to the single-forest value — per-cell match counts
    (sum n*n_subs) and exact distinct-sub counts (sum n_subs over roots
    present) are identical by construction, pinned by
    tests/test_web_pipeline.py::test_sharded_forest_equals_single.

    Scale shape: each shard is its own broadcast (an executor group can
    hold one shard each on a real cluster) and its own map pass over
    the pages; the union adds no shuffle — the ONE keyed shuffle on
    ckey happens after the union, map-side combined across all shards'
    partials alike."""
    from functools import reduce

    spark = keyed_pages.sparkSession
    sub_width = 63 - (2 * level + 1)
    parts: list[DataFrame] = []
    maps: list[DataFrame] = []
    offset = 0
    for forest in forests:
        n_roots = len(planned_evaluator(forest.compile()).root_nodes)
        handles: list = []
        p = fused_match_pages(
            keyed_pages, forest, level, emit="cell_root_partials",
            broadcast_out=handles if isolate_shards else None,
        )
        m = root_subscription_map(spark, forest)
        if offset:
            p = p.withColumn("ckey", F.col("ckey") + F.lit(offset))
            m = m.withColumn("root_id", F.col("root_id") + F.lit(offset))
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
            p = p.localCheckpoint(eager=True)
            for h in handles:
                h.destroy()
        parts.append(p)
        maps.append(m)
        offset += n_roots
    if offset >= (1 << sub_width):
        raise ValueError(
            f"total distinct roots {offset} across {len(forests)} shards "
            f"must fit in {sub_width} bits at level {level}"
        )
    return reduce(DataFrame.union, parts), reduce(DataFrame.union, maps)


def run_pipeline(
    spark,
    n_pages: int,
    n_subscriptions: int,
    level: int = DEFAULT_LEVEL,
    strategy: str = "fused",
    pages: DataFrame | None = None,
    n_shards: int | str = 1,
    workload: str = "standing",
) -> DataFrame:
    """End-to-end: synthesize (or accept) pages, match, aggregate.
    strategy="fused" (default) uses the single-Python-stage kernel;
    "vectorized"/"codegen" use the composable eventize->match operators.
    ``n_shards > 1`` (fused only) partitions the subscription set into
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
    gen = generators[workload]

    subs: dict[int, str] | None = None
    if n_shards == "auto":
        subs = gen(n_subscriptions)
        n_shards = choose_shards(count_forest_nodes(subs))
    else:
        n_shards = int(n_shards)   # accept CLI/config strings like "4"
    if n_shards > 1 and strategy != "fused":
        raise ValueError(
            "n_shards > 1 (and 'auto') require strategy='fused' — the "
            "composable strategies have no sharded partial union"
        )
    if pages is None:
        pages = synth_pages_df(spark, n_pages)

    def _forest():
        if workload == "standing":
            return build_page_forest(n_subscriptions)
        builder = ForestBuilder(PAGE_ATTRIBUTES)
        with _gc_paused():
            for sub_id, expression in (subs or gen(n_subscriptions)).items():
                builder.insert(sub_id, expression)
        return builder

    if strategy == "fused":
        keyed = pages.withColumn("page_key", F.monotonically_increasing_id())
        if n_shards > 1:
            if subs is None:
                subs = gen(n_subscriptions)
            forests = build_forests(shard_subscriptions(subs, n_shards))
            partials, root_map = sharded_root_partials(keyed, forests, level)
        else:
            forest = _forest()
            partials = fused_match_pages(
                keyed, forest, level, emit="cell_root_partials"
            )
            root_map = root_subscription_map(spark, forest)
        # level MUST be forwarded: the unpack widths are level-derived
        # and a mismatch silently corrupts every cell id (ADVICE r3)
        return cell_stats_from_root_partials(partials, root_map, level=level)
    forest = _forest()
    eventized = eventize_pages(pages, level)
    matches = match_pages(eventized, forest, strategy=strategy)
    return salted_cell_stats(matches)
