"""Web-page pipeline: byte-identical extraction, geotag determinism,
end-to-end match parity with the single-node oracle."""

import numpy as np
import pytest

from a_tree_spark.expr import evaluate_event, normalize_event
from a_tree_spark.spatial.cells import cell_id
from a_tree_spark.web import (
    PAGE_ATTRIBUTES,
    build_page_forest,
    eventize_pages,
    extract_text,
    match_pages,
    standing_page_subscriptions,
    synth_batch,
    synth_page,
    synth_pages_df,
)

N_PAGES = 400
N_SUBS = 200


def test_synth_is_deterministic_and_id_pure():
    a = synth_batch(np.arange(0, 50))
    b = synth_batch(np.arange(0, 50))
    assert a.equals(b)
    # single-row oracle == vectorized batch, any batch split
    row = synth_page(37)
    c = synth_batch(np.array([36, 37, 38]))
    assert c["html"][1] == row["html"]
    assert c["text"][1] == row["text"]
    assert c["url"][1] == row["url"]


def test_extraction_byte_identical_oracle():
    # input_hint invariant: extractor(html) == text byte-for-byte
    pages = synth_batch(np.arange(0, 300))
    for html, text in zip(pages["html"], pages["text"]):
        assert extract_text(html) == text


def test_extraction_byte_identical_on_spark(spark):
    pages = synth_pages_df(spark, N_PAGES, partitions=4)
    from a_tree_spark.web import with_extracted_text

    bad = (
        with_extracted_text(pages)
        .where("extracted_text <> text")
        .count()
    )
    assert bad == 0


def test_geotag_and_cells(spark):
    eventized = eventize_pages(synth_pages_df(spark, N_PAGES, partitions=4))
    rows = {r["url"]: r for r in eventized.collect()}
    pages = synth_batch(np.arange(N_PAGES))
    n_geo = 0
    for i in range(N_PAGES):
        url = pages["url"][i]
        row = rows[url]
        assert row["lang"] == pages["lang"][i]
        # tld parsed from the URL authority's last component
        assert url.rsplit(".", 1)[0]  # sanity
        if b"geo.position" in pages["html"][i]:
            n_geo += 1
            # meta geo wins over the centroid
            content = pages["html"][i].decode().split('content="')[1].split('"')[0]
            lat, lon = map(float, content.split(";"))
            assert row["lat"] == pytest.approx(lat)
            assert row["lon"] == pytest.approx(lon)
            assert row["cell_id"] == int(cell_id(np.array([lat]), np.array([lon]))[0])
        else:
            assert row["lat"] is not None  # centroid fallback
    assert 0 < n_geo < N_PAGES  # both paths exercised


def test_pipeline_matches_equal_single_node_oracle(spark):
    """End-to-end parity: distributed match results == oracle matcher run
    on the same eventized rows (the DataFrame restatement of the
    reference's search contract)."""
    eventized = eventize_pages(synth_pages_df(spark, N_PAGES, partitions=4)).cache()
    forest_builder = build_page_forest(N_SUBS)
    matches = match_pages(eventized, forest_builder, carry=("cell_id", "url"))
    got: dict[str, set] = {}
    for row in matches.collect():
        got.setdefault(row["url"], set()).add(row["sub_id"])

    forest = forest_builder.compile()
    names = PAGE_ATTRIBUTES.names()
    for row in eventized.collect():
        event = {k: row[k] for k in names}
        expected = set(evaluate_event(forest, normalize_event(PAGE_ATTRIBUTES, event)))
        assert got.get(row["url"], set()) == expected, row["url"]


def test_subscription_workload_compiles_and_shares():
    builder = build_page_forest(2000)
    forest = builder.compile()
    # heavy CSE expected from the templated workload
    assert forest.num_nodes < 2000 * 6
    assert len(forest.leaves) < 2000 * 3
    assert len(standing_page_subscriptions(2000)) == 2000


def test_fused_kernel_equals_composable_pipeline(spark):
    """The fused single-stage kernel must produce exactly the matches of
    eventize_pages -> match_pages (same keys, cells, subscriptions)."""
    from pyspark.sql import functions as F
    from a_tree_spark.web.pipeline import fused_match_pages

    pages = synth_pages_df(spark, N_PAGES, partitions=4)
    forest = build_page_forest(N_SUBS)

    keyed = pages.withColumn("page_key", F.xxhash64("url"))
    fused = fused_match_pages(keyed, forest)
    composable = match_pages(eventize_pages(pages), forest)

    a = sorted(map(tuple, fused.select("page_key", "cell_id", "sub_id").collect()))
    b = sorted(map(tuple, composable.select("page_key", "cell_id", "sub_id").collect()))
    assert a == b and len(a) > 0


def test_root_partials_equal_raw_match_stats(spark):
    """Root-level in-kernel partials + post-shuffle subscription
    expansion must reproduce EXACTLY the per-cell match counts and
    (now exact) distinct-sub counts of the raw match stream."""
    from pyspark.sql import functions as F
    from a_tree_spark.web.pipeline import (
        cell_stats_from_root_partials,
        fused_match_pages,
        root_subscription_map,
    )

    pages = synth_pages_df(spark, N_PAGES, partitions=4)
    forest = build_page_forest(N_SUBS)
    keyed = pages.withColumn("page_key", F.xxhash64("url"))

    raw = fused_match_pages(keyed, forest, emit="matches")
    partials = fused_match_pages(keyed, forest, emit="cell_root_partials")
    stats = cell_stats_from_root_partials(
        partials, root_subscription_map(spark, forest)
    )

    got = {
        r["cell_id"]: (r["n_matches"], r["n_distinct_subs"])
        for r in stats.collect()
    }
    want = {
        r["cell_id"]: (r["n"], r["d"])
        for r in raw.groupBy("cell_id")
        .agg(F.count("*").alias("n"), F.countDistinct("sub_id").alias("d"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_salted_cell_stats_matches_exact_counts(spark):
    """Round-1 bug (VERDICT/ADVICE): max(approx_count_distinct per salt)
    systematically under-estimated distinct subs. The HLL-union rewrite
    must agree with the exact two-phase count on the skewed fixture
    (sketches are exact at these cardinalities) and n_matches must be
    exactly the raw match count per cell."""
    from pyspark.sql import functions as F
    from a_tree_spark.web.pipeline import (
        exact_cell_sub_counts,
        match_pages,
        salted_cell_stats,
    )

    eventized = eventize_pages(synth_pages_df(spark, 2000, partitions=4))
    matches = match_pages(eventized, build_page_forest(N_SUBS)).cache()

    got = {
        r["cell_id"]: (r["n_matches"], r["approx_distinct_subs"])
        for r in salted_cell_stats(matches).collect()
    }
    exact_subs = {
        r["cell_id"]: r["n_distinct_subs"]
        for r in exact_cell_sub_counts(matches).collect()
    }
    exact_n = {
        r["cell_id"]: r["n"]
        for r in matches.groupBy("cell_id").agg(F.count("*").alias("n")).collect()
    }
    assert len(got) > 0 and set(got) == set(exact_n)
    for cell, (n, approx) in got.items():
        assert n == exact_n[cell]
        # HLL union is a valid merge: tight even on the hottest cells
        assert abs(approx - exact_subs[cell]) <= max(1, 0.02 * exact_subs[cell])


def test_cell_skew_exists(spark):
    """The Zipf ccTLD draw must create hot cells (else the salting path
    is untested theater)."""
    from pyspark.sql import functions as F

    eventized = eventize_pages(synth_pages_df(spark, 2000, partitions=4))
    counts = (
        eventized.where("cell_id is not null")
        .groupBy("cell_id").count().orderBy(F.desc("count"))
    )
    top = [r["count"] for r in counts.limit(5).collect()]
    total = eventized.count()
    assert top[0] > total * 0.02  # hottest cell is meaningfully hot


def test_run_pipeline_forwards_level_to_unpack(spark):
    """ADVICE round 3: run_pipeline passed level to the fused kernel
    (which packs ckey with a level-derived sub_width) but not to
    cell_stats_from_root_partials — any non-default level silently
    unpacked corrupt cell ids. Fused and vectorized strategies must
    agree at a NON-default level."""
    from a_tree_spark.web.pipeline import run_pipeline

    pages = synth_pages_df(spark, N_PAGES, partitions=4)
    level = 9
    fused = run_pipeline(spark, N_PAGES, N_SUBS, level=level,
                         strategy="fused", pages=pages)
    vect = run_pipeline(spark, N_PAGES, N_SUBS, level=level,
                        strategy="vectorized", pages=pages)
    a = sorted(map(tuple, fused.select("cell_id", "n_matches").collect()))
    b = sorted(map(tuple, vect.select("cell_id", "n_matches").collect()))
    assert a == b and len(a) > 0


def test_sharded_forest_equals_single(spark):
    """VERDICT round 4 item 2: the documented 10M-root path — partition
    the subscription set into k forests, union the shard-offset packed
    (cell, root) partials, expand through the unioned root map — must
    produce EXACTLY the single-forest output with no downstream operator
    change (CSE classes split across shards re-sum to the same n_subs)."""
    from a_tree_spark.web.pipeline import run_pipeline

    pages = synth_pages_df(spark, N_PAGES, partitions=4)
    single = run_pipeline(spark, N_PAGES, N_SUBS, strategy="fused",
                          pages=pages)
    sharded = run_pipeline(spark, N_PAGES, N_SUBS, strategy="fused",
                           pages=pages, n_shards=2)
    a = sorted(map(tuple, single.collect()))
    b = sorted(map(tuple, sharded.collect()))
    assert a == b and len(a) > 0
    # three shards too: odd split exercises unequal shard sizes
    sharded3 = run_pipeline(spark, N_PAGES, N_SUBS, strategy="fused",
                            pages=pages, n_shards=3)
    assert sorted(map(tuple, sharded3.collect())) == a


def test_sharded_isolate_equals_union(spark):
    """Round-8 pin: ``isolate_shards`` (one eager job per shard pass,
    evaluator broadcast destroyed after its partials materialize — the
    local-mode emulation of disjoint executor groups) must produce the
    exact rows of the default one-job union form, and the destroyed
    broadcasts must not poison a SECOND pipeline run in the same
    session (worker broadcast-registry eviction)."""
    from pyspark.sql import functions as F

    from a_tree_spark.web.pipeline import (
        build_forests,
        cell_stats_from_root_partials,
        shard_subscriptions,
        sharded_root_partials,
        standing_page_subscriptions,
    )

    pages = synth_pages_df(spark, N_PAGES, partitions=4)
    keyed = pages.withColumn("page_key", F.monotonically_increasing_id())
    forests = build_forests(
        shard_subscriptions(standing_page_subscriptions(N_SUBS), 3)
    )

    def rows(isolate):
        partials, root_map = sharded_root_partials(
            keyed, forests, isolate_shards=isolate
        )
        return sorted(
            map(tuple, cell_stats_from_root_partials(
                partials, root_map).collect())
        )

    base = rows(isolate=False)
    assert rows(isolate=True) == base and len(base) > 0
    # again after the destroys: workers must re-ship fresh broadcasts
    assert rows(isolate=True) == base


def test_diverse_workload_distinct_roots(spark):
    """VERDICT r5 item 6: the diverse generator's literals are
    splitmix64-derived, so distinct expressions == n (the templated
    standing set CSE-collapses ~27x), and the sharded pipeline on it
    equals the single forest."""
    from a_tree_spark.web.pipeline import (
        count_forest_nodes,
        diverse_page_subscriptions,
        run_pipeline,
    )

    from a_tree_spark.expr import ForestBuilder
    from a_tree_spark.expr.vector import BatchEvaluator
    from a_tree_spark.web.pipeline import PAGE_ATTRIBUTES

    n = 3000
    subs = diverse_page_subscriptions(n)
    assert len(set(subs.values())) == n
    # the criterion is FOREST-level: n distinct compiled ROOTS, not
    # just n distinct strings (CSE could still merge equivalent trees)
    builder = ForestBuilder(PAGE_ATTRIBUTES)
    for sub_id, expression in subs.items():
        builder.insert(sub_id, expression)
    assert len(BatchEvaluator(builder.compile()).root_nodes) == n
    # node growth stays ~linear per sub (no template-cycle knee):
    # count_forest_nodes is what n_shards="auto" consumes
    assert count_forest_nodes(subs) >= 3 * n

    pages = synth_pages_df(spark, N_PAGES, partitions=4)
    single = run_pipeline(spark, N_PAGES, n, strategy="fused",
                          pages=pages, workload="diverse")
    sharded = run_pipeline(spark, N_PAGES, n, strategy="fused",
                           pages=pages, n_shards=2, workload="diverse")
    a = sorted(map(tuple, single.collect()))
    b = sorted(map(tuple, sharded.collect()))
    assert a == b and len(a) > 0


def test_sharded_root_guard_raises_on_overflow(spark):
    """The shard-offset root id must never carry into the packed cell
    field: the guard fires when cumulative roots exceed sub_width."""
    from pyspark.sql import functions as F

    from a_tree_spark.web.pipeline import (
        build_forests, shard_subscriptions, sharded_root_partials,
        standing_page_subscriptions,
    )

    forests = build_forests(
        shard_subscriptions(standing_page_subscriptions(40), 2)
    )
    pages = synth_pages_df(spark, 50, partitions=1).withColumn(
        "page_key", F.monotonically_increasing_id()
    )
    with pytest.raises(ValueError, match="must fit"):
        # level 31 leaves sub_width = 0 bits for root ids
        sharded_root_partials(pages, forests, level=31)


def test_flagship_bucketed_cell_join_exchange_free(spark, tmp_path):
    """VERDICT round 4 item 3: bucketing exercised in the FLAGSHIP path
    — the eventized crawl written cell_id-bucketed, a per-cell stats
    history table bucketed alike, and the downstream rollup+join query
    executing with ZERO Exchange nodes. Values must equal the plain
    shuffled computation; an unbucketed control proves the plan
    assertion isn't vacuous."""
    from pyspark.sql import functions as F

    from a_tree_spark.engine.bucketing import (
        is_exchange_free_join, write_bucketed,
    )
    from a_tree_spark.web.pipeline import (
        bucketed_cell_history, eventize_pages, run_pipeline,
        write_eventized_bucketed,
    )

    pages = synth_pages_df(spark, N_PAGES, partitions=4)
    eventized = eventize_pages(pages)
    stats = run_pipeline(spark, N_PAGES, 100, pages=pages).where(
        F.col("cell_id").isNotNull()
    )

    spark.sql("DROP TABLE IF EXISTS b_flagship_pages")
    spark.sql("DROP TABLE IF EXISTS b_flagship_stats")
    write_eventized_bucketed(eventized, "b_flagship_pages", 8,
                             path=str(tmp_path / "pages"))
    write_bucketed(stats, "b_flagship_stats", 8, ["cell_id"],
                   sort_cols=["cell_id"], path=str(tmp_path / "stats"))

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_cell_history(
            spark, "b_flagship_pages", "b_flagship_stats"
        )
        assert is_exchange_free_join(joined)
        got = sorted(map(tuple, joined.collect()))
        # plain shuffled equivalent over the unbucketed DataFrames
        plain = sorted(map(tuple, (
            eventized.where(F.col("cell_id").isNotNull())
            .groupBy("cell_id")
            .agg(F.count("*").alias("n_pages"),
                 F.avg("n_tokens").alias("avg_tokens"))
            .join(stats, "cell_id")
            .select("cell_id", "n_pages", "avg_tokens",
                    "n_matches", "n_distinct_subs")
        ).collect()))
        assert got == plain and len(got) > 0
        # control: same query shape against the raw (unbucketed) scan
        assert not is_exchange_free_join(
            eventized.where(F.col("cell_id").isNotNull())
            .groupBy("cell_id").agg(F.count("*").alias("n_pages"))
            .join(spark.table("b_flagship_stats"), "cell_id")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_fused_extractor_fallback_counter(spark):
    """VERDICT round 4 item 5: the per-row python extract_text fallback
    must be observable. Zero on the synthetic corpus (the RE2 fast
    pattern covers it); positive — and exact — on a crafted multi-<p>
    corpus that the fast pattern can't represent."""
    from pyspark.sql import functions as F

    from a_tree_spark.web.pipeline import fused_match_pages

    forest = build_page_forest(50)
    pages = synth_pages_df(spark, 200, partitions=2).withColumn(
        "page_key", F.monotonically_increasing_id()
    )

    acc = spark.sparkContext.accumulator(0)
    fused_match_pages(pages, forest, fallback_counter=acc).collect()
    assert acc.value == 0

    # every 4th page becomes multi-<p> html — the fallback must fire
    # for exactly those rows, and extraction must stay byte-identical
    # (concatenated paragraphs == what extract_text returns)
    crafted = pages.withColumn(
        "html",
        F.when(
            F.col("page_key") % 4 == 0,
            F.concat(F.lit("<html><p>alpha beta</p><p>gamma</p></html>")
                     .cast("binary")),
        ).otherwise(F.col("html")),
    )
    acc2 = spark.sparkContext.accumulator(0)
    fused_match_pages(crafted, forest, fallback_counter=acc2).collect()
    assert acc2.value == 50


def test_skewed_workload_flips_pruning_on(spark):
    """VERDICT round 4 item 6: on the heavy-tailed workload (wide
    all-of lazy leaves), the cost-model auto strategy must switch
    two-phase access pruning ON — and the fused kernel under that
    forest must still agree exactly with the composable pipeline."""
    from pyspark.sql import functions as F

    from a_tree_spark.engine.matcher import choose_access_pruning
    from a_tree_spark.expr import ForestBuilder
    from a_tree_spark.expr.vector import BatchEvaluator
    from a_tree_spark.web.pipeline import (
        PAGE_ATTRIBUTES, fused_match_pages, skewed_page_subscriptions,
    )

    builder = ForestBuilder(PAGE_ATTRIBUTES)
    for sub_id, expression in skewed_page_subscriptions(400).items():
        builder.insert(sub_id, expression)
    ev = BatchEvaluator(builder.compile())
    assert choose_access_pruning(ev), "skewed lazy leaves must trip the model"
    # the uniform flagship workload must still leave it OFF (cheap lazy)
    assert not choose_access_pruning(
        BatchEvaluator(build_page_forest(400).compile())
    )
    # density term (round 5): the SAME templates at 50k subscriptions
    # dilute the lazy cost across a ~300k-unit forest — the candidate
    # pass would cost more than the lazies save (measured 0.61x), so
    # the model must flip back OFF at scale
    big = ForestBuilder(PAGE_ATTRIBUTES)
    for sub_id, expression in skewed_page_subscriptions(50_000).items():
        big.insert(sub_id, expression)
    assert not choose_access_pruning(BatchEvaluator(big.compile()))

    pages = synth_pages_df(spark, N_PAGES, partitions=4).withColumn(
        "page_key", F.xxhash64("url")
    )
    fused = fused_match_pages(pages, builder)  # auto -> pruned path
    composable = match_pages(eventize_pages(pages.drop("page_key")), builder)
    a = sorted(map(tuple, fused.select("page_key", "sub_id").collect()))
    b = sorted(map(tuple, composable.select("page_key", "sub_id").collect()))
    assert a == b and len(a) > 0


def test_choose_shards_guidance():
    """Measured regimes (BENCH/BASELINE.md rounds 5-6): ~50k nodes per
    shard up to the MAX_AUTO_SHARDS throughput cap (each shard is a
    full page pass: 73 shards measured 4.1x slower than 8 at 3.65M
    nodes), and a capacity floor so no shard exceeds
    MAX_NODES_PER_SHARD (a 1.9M-node shard OOMed the 128 GB box)."""
    from a_tree_spark.web.pipeline import choose_shards

    assert choose_shards(1) == 1
    assert choose_shards(39_000) == 1
    assert choose_shards(50_001) == 2
    assert choose_shards(150_000) == 3
    # throughput cap: the round-6 1M-distinct-root forest
    assert choose_shards(3_650_000) == 8
    # capacity floor wins past ~4.8M nodes
    assert choose_shards(12_000_000) == 20


def test_sharded_sub_level_matches_equal_single(spark):
    """The deployment path (scripts/submit_pipeline.py --shards k)
    unions SUB-level match streams across shard forests — sub ids are
    globally unique across shards, so the union must equal the single
    forest's matches exactly, no root disambiguation involved."""
    from functools import reduce

    from pyspark.sql import DataFrame, functions as F

    from a_tree_spark.web.pipeline import (
        build_forests, fused_match_pages, shard_subscriptions,
    )

    pages = synth_pages_df(spark, N_PAGES, partitions=4).withColumn(
        "page_key", F.xxhash64("url")
    )
    subs = standing_page_subscriptions(N_SUBS)
    single = build_page_forest(N_SUBS)
    forests = build_forests(shard_subscriptions(subs, 3))

    want = sorted(map(tuple, fused_match_pages(pages, single)
                      .select("page_key", "cell_id", "sub_id").collect()))
    got = sorted(map(tuple, reduce(
        DataFrame.union, [fused_match_pages(pages, f) for f in forests]
    ).select("page_key", "cell_id", "sub_id").collect()))
    assert got == want and len(got) > 0


def test_reinsert_same_expression_adds_zero_nodes():
    """The fact count_forest_nodes is built on: a repeated expression
    string terminates in the canonical-id map and appends no nodes."""
    from a_tree_spark.expr.compiler import ForestBuilder
    from a_tree_spark.web.pipeline import PAGE_ATTRIBUTES

    b = ForestBuilder(PAGE_ATTRIBUTES)
    b.insert(1, "n_tokens > 100 and lang = 'en'")
    before = b.live_node_count
    b.insert(2, "n_tokens > 100 and lang = 'en'")
    assert b.live_node_count == before
    assert sorted(b.sub_ids()) == [1, 2]


def test_count_forest_nodes_exact_under_repetition():
    from a_tree_spark.expr.compiler import ForestBuilder
    from a_tree_spark.web.pipeline import (
        PAGE_ATTRIBUTES, count_forest_nodes, standing_page_subscriptions,
    )

    subs = standing_page_subscriptions(6000)  # past one template cycle
    full = ForestBuilder(PAGE_ATTRIBUTES)
    for sid, ex in subs.items():
        full.insert(sid, ex)
    assert count_forest_nodes(subs) == full.live_node_count


def test_auto_shards_matches_explicit(spark, monkeypatch):
    """n_shards='auto' must (a) pick 1 below the node target and
    (b) with the target forced tiny, shard and still produce the
    single-forest output exactly."""
    from a_tree_spark.web import pipeline as wp

    pages = synth_pages_df(spark, N_PAGES, partitions=4)
    single = sorted(map(tuple, wp.run_pipeline(
        spark, N_PAGES, N_SUBS, strategy="fused", pages=pages
    ).collect()))
    auto = sorted(map(tuple, wp.run_pipeline(
        spark, N_PAGES, N_SUBS, strategy="fused", pages=pages,
        n_shards="auto",
    ).collect()))
    assert auto == single and len(single) > 0

    monkeypatch.setattr(wp, "SHARD_TARGET_NODES", 50)
    # guard against a vacuous pass: the tiny target must actually
    # engage sharding (a count_forest_nodes/choose_shards regression
    # to k=1 would make forced == single trivially)
    k = wp.choose_shards(
        wp.count_forest_nodes(wp.standing_page_subscriptions(N_SUBS))
    )
    assert k > 1
    forced = sorted(map(tuple, wp.run_pipeline(
        spark, N_PAGES, N_SUBS, strategy="fused", pages=pages,
        n_shards="auto",
    ).collect()))
    assert forced == single


def _lead_token_lazy_subscriptions(n_pages_seen: int) -> dict[int, str]:
    """Per page: ``n_tokens = <its count> and lead_tokens all of [its
    lead tokens + 2 others]`` (fires on that page), plus ONE ``none of``
    leaf (a lone one stays generic, hence lazy). The selective
    ``n_tokens`` equality is the access predicate."""
    pages = synth_batch(np.arange(n_pages_seen))
    subs: dict[int, str] = {}
    for p, text in enumerate(pages["text"]):
        toks = text.split(" ")
        listed = ", ".join(f"'{t}'" for t in toks[:8] + ["tok1", "tok2"])
        subs[p] = f"n_tokens = {len(toks)} and lead_tokens all of [{listed}]"
    first = pages["text"][0].split(" ")
    subs[n_pages_seen] = (
        f"n_tokens = {len(first)} and lead_tokens none of ['{first[0]}', 'tok1']"
    )
    return subs


@pytest.mark.parametrize("n_pages", [1, 63, 64, 65, 4095, 4097])
def test_fused_pruned_equals_dense_on_lead_token_lazy_leaves(spark, n_pages):
    """The fused kernel's access-pruned path must emit exactly the dense
    path's matches when the lazy leaves are string-list ``all of`` /
    ``none of`` over dictionary-coded lead tokens, at batch sizes around
    the 64-bit word and the partial last byte (4097 = one full Arrow
    batch + one row)."""
    from pyspark.sql import functions as F

    from a_tree_spark.expr import ForestBuilder
    from a_tree_spark.expr.vector import BatchEvaluator
    from a_tree_spark.web.pipeline import fused_match_pages

    builder = ForestBuilder(PAGE_ATTRIBUTES)
    for sub_id, expression in _lead_token_lazy_subscriptions(40).items():
        builder.insert(sub_id, expression)
    forest = builder.compile()
    ev = BatchEvaluator(forest)
    assert {"ALL_OF", "NONE_OF"} <= {
        forest.leaves[i].op.name for i in ev.lazy_leaf_idxs
    }

    pages = synth_pages_df(spark, n_pages, partitions=1).withColumn(
        "page_key", F.monotonically_increasing_id()
    )
    got = {}
    for pruning in (True, False):
        out = fused_match_pages(pages, builder, emit="matches", access_pruning=pruning)
        got[pruning] = sorted(map(tuple, out.collect()))
    assert got[True] == got[False]
    assert len(got[True]) >= min(n_pages, 40)  # every page fires its own sub


def _crawl(spark, pages, builder):
    """One crawl step as the flagship runs it: root map, fused root
    partials, exact per-cell stats."""
    from a_tree_spark.web.pipeline import (
        cell_stats_from_root_partials,
        fused_match_pages,
        root_subscription_map,
    )

    root_map = root_subscription_map(spark, builder)
    partials = fused_match_pages(pages, builder, emit="cell_root_partials")
    stats = cell_stats_from_root_partials(partials, root_map)
    return root_map, sorted(map(tuple, stats.collect()))


def test_crawl_plans_one_evaluator_per_snapshot(spark, monkeypatch):
    """The root map and the fused kernel share the snapshot's one plan:
    a crawl plans once, and after an insert the next crawl plans once
    more. The root map is still one (root_id, n_subs) row per root, in
    the plan's root order."""
    from pyspark.sql import functions as F

    from a_tree_spark.expr import vector
    from a_tree_spark.expr.vector import BatchEvaluator, planned_evaluator

    plans = []
    init = BatchEvaluator.__init__

    def counting_init(self, *args, **kwargs):
        plans.append(args[0] if args else kwargs["forest"])
        init(self, *args, **kwargs)

    monkeypatch.setattr(BatchEvaluator, "__init__", counting_init)
    monkeypatch.setattr(vector, "_latest_plan", None)

    builder = build_page_forest(N_SUBS)
    pages = synth_pages_df(spark, N_PAGES, partitions=4).withColumn(
        "page_key", F.monotonically_increasing_id()
    )
    root_map, stats = _crawl(spark, pages, builder)
    assert len(plans) == 1 and plans[0] is builder.compile()
    assert stats
    assert root_map.schema.simpleString() == "struct<root_id:bigint,n_subs:bigint>"
    counts = planned_evaluator(builder.compile()).root_sub_counts
    assert sorted(map(tuple, root_map.collect())) == list(enumerate(counts.tolist()))

    builder.insert(N_SUBS, "lang = 'en' and n_tokens >= 1")
    _, after = _crawl(spark, pages, builder)
    assert len(plans) == 2 and plans[1] is builder.compile()
    assert after != stats  # the new subscription matches somewhere


def test_pruning_flag_stays_with_its_caller(spark):
    """On one snapshot, a pruned fused pass and then a dense
    ``match_events`` pass both equal the single-row oracle, and neither
    flag lands on the shared plan."""
    from pyspark.sql import functions as F

    from a_tree_spark.engine.matcher import broadcast_evaluator, match_events
    from a_tree_spark.expr import ForestBuilder
    from a_tree_spark.expr.vector import planned_evaluator
    from a_tree_spark.web.pipeline import fused_match_pages

    builder = ForestBuilder(PAGE_ATTRIBUTES)
    for sub_id, expression in _lead_token_lazy_subscriptions(40).items():
        builder.insert(sub_id, expression)
    forest = builder.compile()
    plan = planned_evaluator(forest)
    assert plan.lazy_leaf_idxs and not plan.access_pruning

    pages = synth_pages_df(spark, 200, partitions=2).withColumn(
        "page_key", F.xxhash64("url")
    )
    eventized = eventize_pages(pages).withColumn("page_key", F.xxhash64("url"))
    want = set()
    for row in eventized.collect():
        event = {k: row[k] for k in PAGE_ATTRIBUTES.names()}
        for sub in evaluate_event(forest, normalize_event(PAGE_ATTRIBUTES, event)):
            want.add((row["page_key"], sub))
    assert want

    pruned = fused_match_pages(pages, builder, emit="matches", access_pruning=True)
    assert {(r["page_key"], r["sub_id"]) for r in pruned.collect()} == want
    assert planned_evaluator(builder.compile()) is plan and not plan.access_pruning

    dense = match_events(eventized, builder, event_id_col="page_key",
                         access_pruning=False)
    assert {(r["event_id"], r["sub_id"]) for r in dense.collect()} == want
    assert planned_evaluator(builder.compile()) is plan and not plan.access_pruning

    shipped, bc = broadcast_evaluator(spark, forest, access_pruning=True)
    assert shipped is not plan and shipped.access_pruning
    assert not plan.access_pruning
    bc.destroy()


def test_empty_forest_crawl(spark):
    """A forest with no subscriptions has no roots: the root map is
    empty with the usual schema, and the crawl runs to an empty
    result."""
    from pyspark.sql import functions as F

    from a_tree_spark.expr import ForestBuilder

    pages = synth_pages_df(spark, 50, partitions=2).withColumn(
        "page_key", F.monotonically_increasing_id()
    )
    root_map, stats = _crawl(spark, pages, ForestBuilder(PAGE_ATTRIBUTES))
    assert root_map.schema.simpleString() == "struct<root_id:bigint,n_subs:bigint>"
    assert root_map.count() == 0
    assert stats == []


def test_fused_rejects_unknown_emit(spark):
    from a_tree_spark.web.pipeline import fused_match_pages

    pages = synth_pages_df(spark, 10, partitions=1)
    with pytest.raises(ValueError, match="emit must be"):
        fused_match_pages(pages, build_page_forest(10), emit="cell_partials")
