"""Streaming matcher == batch matcher on the same data (micro-batch
reuse makes this equality structural; the test pins it end-to-end
through a real file-source stream)."""

import pytest

from tests.conftest import SF_DIR


def test_stream_matches_equal_batch(spark, tmp_path):
    from a_tree_spark.engine.eventize import (
        EVENT_ATTRIBUTES,
        STANDING_SUBSCRIPTIONS,
        eventize_events,
    )
    from a_tree_spark.engine.matcher import match_events
    from a_tree_spark.expr import ForestBuilder
    from a_tree_spark.streaming import match_stream

    eventized = eventize_events(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    src_dir = str(tmp_path / "stream_src")
    eventized.repartition(4).write.parquet(src_dir)

    builder = ForestBuilder(EVENT_ATTRIBUTES)
    for sub_id, expression in STANDING_SUBSCRIPTIONS.items():
        builder.insert(sub_id, expression)

    stream = spark.readStream.schema(eventized.schema).parquet(src_dir)
    collected: list = []

    def sink(matches, batch_id):
        collected.extend(map(tuple, matches.select("event_id", "sub_id").collect()))

    query = match_stream(
        stream, builder, sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    query.awaitTermination(120)

    batch = sorted(map(tuple, match_events(eventized, builder)
                       .select("event_id", "sub_id").collect()))
    assert sorted(collected) == batch and len(batch) > 0


def test_windowed_match_counts_plan(spark):
    """Stateful windowed aggregation builds with watermark + window
    (plan-level check; semantics ride on match_events equality)."""
    from a_tree_spark.engine.eventize import EVENT_ATTRIBUTES, eventize_events
    from a_tree_spark.expr import ForestBuilder
    from a_tree_spark.streaming import windowed_match_counts
    from pyspark.sql import functions as F

    eventized = eventize_events(
        spark.read.parquet(f"{SF_DIR}/events.parquet")
    ).withColumn("ts", F.current_timestamp())
    builder = ForestBuilder(EVENT_ATTRIBUTES)
    builder.insert(1, "event_type = 'click'")

    out = windowed_match_counts(eventized, builder)
    assert set(out.columns) == {"time_window", "sub_id", "n_matches"}
    assert out.count() > 0  # batch-mode execution of the same plan works


def test_windowed_match_counts_streams_in_append_mode(spark, tmp_path):
    """ADVICE round 1: the watermark declared upstream of match_events
    did not survive the mapInPandas stage, so append mode would be
    rejected and update-mode state grew unbounded. This runs the REAL
    streaming plan end-to-end in append mode — Spark refuses to even
    start an append-mode windowed aggregation without an event-time
    watermark, so a successful run is the regression proof — and checks
    the emitted closed-window counts against batch groundtruth."""
    from pyspark.sql import functions as F
    from a_tree_spark.engine.eventize import EVENT_ATTRIBUTES, eventize_events
    from a_tree_spark.expr import ForestBuilder
    from a_tree_spark.streaming import windowed_match_counts

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    eventized = eventize_events(events).join(
        events.select("event_id", F.col("ts").cast("timestamp").alias("ts")),
        "event_id",
    )
    src = str(tmp_path / "win_src")
    eventized.where("event_id % 2 = 0").coalesce(1).write.parquet(src)
    eventized.where("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    builder = ForestBuilder(EVENT_ATTRIBUTES)
    builder.insert(1, "event_type = 'click'")

    stream = (
        spark.readStream.schema(eventized.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed_match_counts(stream, builder, window="1 hour", watermark="1 hour")
    query = (
        out.writeStream.format("memory")
        .queryName("win_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    query.awaitTermination(180)

    got = {
        (r["time_window"]["start"], r["sub_id"]): r["n_matches"]
        for r in spark.sql("SELECT * FROM win_append").collect()
    }
    want = {
        (r["time_window"]["start"], r["sub_id"]): r["n_matches"]
        for r in windowed_match_counts(
            eventized, builder, window="1 hour", watermark="1 hour"
        ).collect()
    }
    # append emits only watermark-closed windows; every emitted window
    # must match the batch result exactly, and some must have emitted
    assert len(got) > 0
    for key, n in got.items():
        assert want.get(key) == n


def test_streaming_dedup_drops_in_horizon_copies(spark, tmp_path):
    """Streaming exact dedup: planted copies inside the watermark
    horizon are dropped; one row per distinct content hash survives,
    verified end-to-end through a real file-source stream."""
    from pyspark.sql import functions as F

    from a_tree_spark.streaming import dedup_stream

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(200)
        .select(
            "doc_id",
            "text",
            (F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id"))).alias("ts"),
        )
    )
    # plant copies: every doc_id % 4 == 0 ingested twice (seconds apart)
    dupes = docs.where("doc_id % 4 = 0").withColumn(
        "doc_id", F.col("doc_id") + 100000
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 SECONDS"))
    src = docs.unionByName(dupes)
    src_dir = str(tmp_path / "docs_src")
    src.repartition(4).write.parquet(src_dir)

    stream = spark.readStream.schema(src.schema).parquet(src_dir)
    out: list = []
    query = (
        dedup_stream(stream, watermark="10 minutes")
        .writeStream.foreachBatch(
            lambda df, _id: out.extend(
                (r["content_hash"],) for r in df.select("content_hash").collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)

    n_docs = docs.count()
    distinct_hashes = {h for (h,) in out}
    assert len(out) == n_docs              # one survivor per distinct text
    assert len(distinct_hashes) == n_docs  # no duplicate made it through


def test_dedup_stream_crash_recovery_restores_state(spark, tmp_path):
    """VERDICT round 3 item 5: kill a checkpointed streaming query
    mid-flight and prove checkpoint resume yields exact results.

    The crash is real — the foreachBatch sink raises on the second
    micro-batch, terminating the query with an exception after batch 0
    committed its offsets and state. The restart resumes from the same
    checkpoint. The sharp assertion is STATE recovery: a copy planted
    in a post-crash file duplicates a document processed BEFORE the
    crash, so it is dropped only if the restarted query restored the
    dropDuplicatesWithinWatermark state store — a fresh query would
    let it through. The per-batch overwrite sink is idempotent, so the
    replayed batch cannot double-count (the contract foreachBatch
    requires of its sink)."""
    from pyspark.sql import functions as F

    from a_tree_spark.streaming import dedup_stream

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(120)
        .select(
            "doc_id",
            "text",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
        )
        .cache()
    )
    src_dir = str(tmp_path / "crash_src")
    # five single-file micro-batches; the last re-ingests copies of
    # file-0 documents (same text => same content hash, later ts)
    parts = [
        docs.where("doc_id % 4 = 0"),
        docs.where("doc_id % 4 = 1"),
        docs.where("doc_id % 4 = 2"),
        docs.where("doc_id % 4 = 3"),
        docs.where("doc_id % 4 = 0")
        .withColumn("doc_id", F.col("doc_id") + 500000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 SECONDS")),
    ]
    for part in parts:
        part.coalesce(1).write.mode("append").parquet(src_dir)

    out_dir = tmp_path / "crash_out"

    def make_sink(poison: bool):
        def sink(df, batch_id):
            if poison and batch_id >= 1:
                raise RuntimeError("injected crash")
            df.write.mode("overwrite").parquet(str(out_dir / f"b{batch_id}"))
        return sink

    def start(poison: bool):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return (
            dedup_stream(stream, watermark="10 minutes")
            .writeStream.foreachBatch(make_sink(poison))
            .option("checkpointLocation", str(tmp_path / "crash_ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    crashed = start(poison=True)
    with pytest.raises(Exception):
        crashed.awaitTermination(120)
        raise RuntimeError("query should have failed")  # pragma: no cover
    assert crashed.exception() is not None  # died mid-stream, not finished

    resumed = start(poison=False)
    resumed.awaitTermination(120)
    assert resumed.exception() is None

    got = sorted(
        (r["content_hash"], r["doc_id"])
        for r in spark.read.parquet(str(out_dir / "b*")).collect()
    )
    # exactness vs batch: one survivor per distinct text, and every
    # survivor is the ORIGINAL doc_id (< 500000) — the post-crash
    # copies matched state written before the crash
    n_docs = docs.count()
    assert len(got) == n_docs
    assert len({h for h, _ in got}) == n_docs
    assert all(d < 500000 for _, d in got)


def test_match_stream_file_sink_interrupt_resume_exactly_once(spark, tmp_path):
    """Interrupt a checkpointed match stream writing to the built-in
    parquet file sink, resume from the checkpoint, and require the
    final sink contents to equal the batch matcher EXACTLY (no lost and
    no duplicated matches). The file sink's _spark_metadata manifest is
    what makes re-attempted batches invisible — spark.read consults it,
    so this pins the end-to-end exactly-once contract the north-star
    deployment relies on."""
    import time as _time

    from a_tree_spark.engine.eventize import (
        EVENT_ATTRIBUTES,
        STANDING_SUBSCRIPTIONS,
        eventize_events,
    )
    from a_tree_spark.engine.matcher import match_events
    from a_tree_spark.expr import ForestBuilder

    eventized = eventize_events(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    src_dir = str(tmp_path / "ms_src")
    eventized.repartition(8).write.parquet(src_dir)

    builder = ForestBuilder(EVENT_ATTRIBUTES)
    for sub_id, expression in STANDING_SUBSCRIPTIONS.items():
        builder.insert(sub_id, expression)

    sink_dir = str(tmp_path / "ms_sink")
    ckpt = str(tmp_path / "ms_ckpt")

    def start(available_now: bool):
        stream = (
            spark.readStream.schema(eventized.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        matches = match_events(stream, builder).select("event_id", "sub_id")
        writer = matches.writeStream.format("parquet").option(
            "path", sink_dir
        ).option("checkpointLocation", ckpt)
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # phase 1: continuous trigger; stop as soon as the first
    # micro-batch lands (7 of 8 source files still unprocessed)
    q1 = start(available_now=False)
    deadline = _time.time() + 60
    while _time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q1.recentProgress):
            break
        _time.sleep(0.05)
    q1.stop()
    q1.awaitTermination(60)

    # phase 2: resume from the checkpoint, drain the rest
    q2 = start(available_now=True)
    q2.awaitTermination(120)
    assert q2.exception() is None

    got = sorted(map(tuple, spark.read.parquet(sink_dir).collect()))
    want = sorted(
        map(tuple, match_events(eventized, builder)
            .select("event_id", "sub_id").collect())
    )
    assert got == want and len(want) > 0


def _neardup_batch_reference(rows, max_hamming=3, horizon_ms=None):
    """Sequential reference for neardup_dedup_stream's contract: process
    (doc_id, ts_ms, simhash) in (ts, doc_id) order; a doc survives iff
    no band bucket holds an in-horizon fingerprint within max_hamming;
    fingerprints are recorded regardless (chaining semantics)."""
    from a_tree_spark.streaming.neardup_stream import BAND_BITS, SIMHASH_BANDS

    buckets: dict = {}
    survivors = []
    for doc_id, ts_ms, sim in sorted(rows, key=lambda r: (r[1], r[0])):
        hit = False
        keys = [
            (b, (sim >> (b * BAND_BITS)) & 0xFFFF)
            for b in range(SIMHASH_BANDS)
        ]
        for key in keys:
            for s, t in buckets.get(key, []):
                if horizon_ms is not None and t < ts_ms - horizon_ms:
                    continue
                if bin((s ^ sim) & ((1 << 64) - 1)).count("1") <= max_hamming:
                    hit = True
        for key in keys:
            buckets.setdefault(key, []).append((sim, ts_ms))
        if not hit:
            survivors.append(doc_id)
    return sorted(survivors)


def test_neardup_stream_drops_planted_near_dups(spark, tmp_path):
    """Streaming banded-SimHash near-dup: planted near-copies (one token
    edited — small hamming distance, NOT exact duplicates) must be
    dropped; unrelated docs must survive. The surviving set is checked
    EXACTLY against the sequential reference implementation, across a
    two-file stream (state carries between micro-batches)."""
    from pyspark.sql import functions as F

    from a_tree_spark.pipeline.dedup import simhash_oracle
    from a_tree_spark.streaming import neardup_dedup_stream

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(80)
        .select(
            "doc_id", "text",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
        )
    )
    # near-copies of doc_id%4==0: replace the first token (hamming-near,
    # md5-exact-dedup would NOT catch these); arrive in the second file
    near = (
        docs.where("doc_id % 4 = 0")
        .withColumn("doc_id", F.col("doc_id") + 700000)
        .withColumn(
            "text",
            F.concat(F.lit("zzz "), F.expr("substring(text, instr(text, ' ') + 1)")),
        )
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 90 SECONDS"))
    )
    src_dir = str(tmp_path / "nd_src")
    docs.coalesce(1).write.mode("append").parquet(src_dir)
    near.coalesce(1).write.mode("append").parquet(src_dir)

    got: list = []
    query = neardup_dedup_stream(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir),
        sink=lambda df, _id: got.extend(r["doc_id"] for r in df.collect()),
        watermark="30 minutes",
        checkpoint_dir=str(tmp_path / "nd_ckpt"),
    )
    query.awaitTermination(180)
    assert query.exception() is None

    all_rows = [
        (r["doc_id"], int(r["ts"].timestamp() * 1000), simhash_oracle(r["text"]))
        for r in docs.unionByName(near).collect()
    ]
    want = _neardup_batch_reference(all_rows)
    assert sorted(got) == want
    # the contract did real work: the synthetic corpus contains natural
    # near-dups among the originals (templated text), and every planted
    # near-copy whose edit stayed within the hamming budget must be
    # dropped — verify against per-pair hamming, not just membership
    dropped = {r[0] for r in all_rows} - set(want)
    assert dropped, "near-duplicates must be dropped"
    sims = {r[0]: r[2] for r in all_rows}
    qualifying = [
        d for d in sims if d >= 700000
        and bin((sims[d] ^ sims[d - 700000]) & ((1 << 64) - 1)).count("1") <= 3
    ]
    assert qualifying, "fixture must plant at least one in-budget near-copy"
    assert all(d in dropped for d in qualifying)


def test_neardup_stream_horizon_expiry_bounds_state(spark, tmp_path):
    """A near-copy arriving AFTER the watermark horizon must pass (the
    documented late-arrival bound that keeps state finite): same text
    family, second file 3 hours later with a 10-minute horizon."""
    from pyspark.sql import functions as F

    from a_tree_spark.streaming import neardup_dedup_stream

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(20)
        .select(
            "doc_id", "text",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
        )
    )
    # the watermark is computed from PRIOR batches (standard Spark
    # semantics — expiry lags one micro-batch), so a clock-advancing
    # middle file moves the watermark past the originals before the
    # late copy arrives
    clock_tick = (
        docs.where("doc_id = 1")
        .withColumn("doc_id", F.lit(800000).cast("long"))
        .withColumn("text", F.lit("unrelated clock advance payload zq"))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 HOURS"))
    )
    late_copy = (
        docs.where("doc_id = 0")
        .withColumn("doc_id", F.lit(900000).cast("long"))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 3 HOURS"))
    )
    src_dir = str(tmp_path / "ndh_src")
    docs.coalesce(1).write.mode("append").parquet(src_dir)
    clock_tick.coalesce(1).write.mode("append").parquet(src_dir)
    late_copy.coalesce(1).write.mode("append").parquet(src_dir)

    got: list = []
    query = neardup_dedup_stream(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir),
        sink=lambda df, _id: got.extend(r["doc_id"] for r in df.collect()),
        watermark="10 minutes",
        checkpoint_dir=str(tmp_path / "ndh_ckpt"),
    )
    query.awaitTermination(180)
    assert query.exception() is None
    # the 3-hours-later exact copy is OUTSIDE the horizon: it survives
    # even though its original (doc 0) also survived — the fingerprint
    # expired with the watermark, which is what bounds the state
    assert 900000 in got and 0 in got and 800000 in got


def test_neardup_stream_crash_recovery_restores_custom_state(spark, tmp_path):
    """Crash/recovery for the CUSTOM stateful operator: the injected
    failure kills the query after batch 0 committed its
    applyInPandasWithState state; after restart from the checkpoint, a
    near-copy (in a post-crash file) of a pre-crash document must still
    be dropped — provable only if the manually-managed fingerprint
    state was recovered, and the full survivor set must equal the
    sequential reference exactly."""
    from pyspark.sql import functions as F

    from a_tree_spark.pipeline.dedup import simhash_oracle
    from a_tree_spark.streaming import neardup_dedup_stream

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(60)
        .select(
            "doc_id", "text",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
        )
    )
    near = (
        docs.where("doc_id % 3 = 0")
        .withColumn("doc_id", F.col("doc_id") + 700000)
        .withColumn(
            "text",
            F.concat(F.lit("zzz "), F.expr("substring(text, instr(text, ' ') + 1)")),
        )
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 MINUTES"))
    )
    # files are ts-monotone (ts tracks doc_id): arrival order == event
    # order, the ordering the sequential reference assumes
    src_dir = str(tmp_path / "ndc_src")
    docs.where("doc_id < 40").coalesce(1).write.mode("append").parquet(src_dir)
    docs.where("doc_id >= 40").coalesce(1).write.mode("append").parquet(src_dir)
    near.coalesce(1).write.mode("append").parquet(src_dir)

    got: dict = {}

    def make_sink(poison: bool):
        def sink(df, batch_id):
            if poison and batch_id >= 1:
                raise RuntimeError("injected crash")
            got[batch_id] = [r["doc_id"] for r in df.collect()]
        return sink

    def start(poison: bool):
        return neardup_dedup_stream(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir),
            sink=make_sink(poison),
            watermark="30 minutes",
            checkpoint_dir=str(tmp_path / "ndc_ckpt"),
        )

    crashed = start(poison=True)
    with pytest.raises(Exception):
        crashed.awaitTermination(180)
        raise RuntimeError("query should have failed")  # pragma: no cover
    assert crashed.exception() is not None

    resumed = start(poison=False)
    resumed.awaitTermination(180)
    assert resumed.exception() is None

    all_rows = [
        (r["doc_id"], int(r["ts"].timestamp() * 1000), simhash_oracle(r["text"]))
        for r in docs.unionByName(near).collect()
    ]
    survivors = sorted(d for ids in got.values() for d in ids)
    assert survivors == _neardup_batch_reference(all_rows)
    # at least one qualifying near-copy duplicates a PRE-crash doc
    # (doc_id % 3 == 0 was in file 0) and was dropped post-restart
    sims = {r[0]: r[2] for r in all_rows}
    qualifying = [
        d for d in sims if d >= 700000
        and bin((sims[d] ^ sims[d - 700000]) & ((1 << 64) - 1)).count("1") <= 3
    ]
    assert qualifying and all(d not in survivors for d in qualifying)


def test_batch_simhash_equals_oracle_per_row():
    """The vectorized streaming fingerprint (unique-word md5 + cumsum
    segment votes) must equal dedup.simhash_oracle exactly, including
    empty docs, single-word docs, and fully-unique vocabularies."""
    import random

    from a_tree_spark.pipeline.dedup import simhash_oracle
    from a_tree_spark.streaming.neardup_stream import batch_simhash

    random.seed(11)
    shared = [
        " ".join(f"tok{random.randint(0, 300)}" for _ in range(50))
        for _ in range(300)
    ]
    unique = [" ".join(f"w{i}_{j}" for j in range(30)) for i in range(100)]
    edge = ["", "single", "a b c", "  ", "dup dup dup"]
    for texts in (shared, unique, edge, []):
        assert batch_simhash(texts) == [simhash_oracle(t) for t in texts]


def test_stream_neardup_matches_batch_pairs(spark, tmp_path):
    """VERDICT round 4 item 7: streaming <-> batch near-dup parity.
    With an unbounded horizon, the stream's drop set over a static
    corpus must equal the batch banded-SimHash pair query
    (dedup.simhash_near_dup_pairs) at the same hamming threshold: a
    document is dropped iff it is the LATER side of >= 1 batch pair
    (chaining means 'any earlier doc within hamming d', dropped or
    not — exactly 'exists a pair (a, b), a earlier')."""
    from pyspark.sql import functions as F

    from a_tree_spark.pipeline.dedup import simhash_near_dup_pairs
    from a_tree_spark.streaming import neardup_dedup_stream

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .limit(80)
        .select("doc_id", "text")
    )
    near = (
        docs.where("doc_id % 4 = 0")
        .withColumn("doc_id", F.col("doc_id") + 700000)
        .withColumn(
            "text",
            F.concat(F.lit("zzz "), F.expr("substring(text, instr(text, ' ') + 1)")),
        )
    )
    corpus = docs.unionByName(near).withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id"))
    )
    # ts tracks doc_id, so 'earlier' == smaller doc_id on both sides;
    # files written in doc_id order keep arrival ts-monotone
    src_dir = str(tmp_path / "par_src")
    corpus.where("doc_id < 40").coalesce(1).write.mode("append").parquet(src_dir)
    corpus.where("doc_id >= 40 AND doc_id < 700000").coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    corpus.where("doc_id >= 700000").coalesce(1).write.mode("append").parquet(
        src_dir
    )

    got: list = []
    query = neardup_dedup_stream(
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir),
        sink=lambda df, _id: got.extend(r["doc_id"] for r in df.collect()),
        watermark="87600 hours",  # ~10 years: nothing ever expires
        checkpoint_dir=str(tmp_path / "par_ckpt"),
    )
    query.awaitTermination(180)
    assert query.exception() is None

    all_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    dropped = all_ids - set(got)
    want_dropped = {
        r["doc_b"]
        for r in simhash_near_dup_pairs(corpus.select("doc_id", "text"))
        .select("doc_b")
        .collect()
    }
    assert want_dropped, "fixture must contain near-dup pairs"
    assert dropped == want_dropped


def test_hash_sample_is_streamable(spark, tmp_path):
    """hash_stratified_sample is a stateless deterministic filter, so
    the SAME operator must run unchanged on a stream and keep exactly
    the batch sample — the property rng sampling can't have."""
    from a_tree_spark.pipeline.sampling import hash_stratified_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    src_dir = str(tmp_path / "docs_src")
    docs.write.parquet(src_dir)
    fractions = {"src0": 1000, "src1": 500}

    batch_ids = {
        r["doc_id"]
        for r in hash_stratified_sample(
            docs, fractions, default_permille=100
        ).collect()
    }

    stream = spark.readStream.schema(docs.schema).parquet(src_dir)
    q = (
        hash_stratified_sample(stream, fractions, default_permille=100)
        .writeStream.format("memory")
        .queryName("sampled_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"] for r in spark.sql("SELECT * FROM sampled_stream").collect()
    }
    assert got == batch_ids and got


def test_windowed_rollup_stream_equals_batch(spark, tmp_path):
    """Stream/batch parity for the watermarked tumbling rollup: the
    same events through a file-source stream (complete mode, so every
    window emits regardless of watermark progress) == the batch
    windowed_rollup, row for row."""
    from a_tree_spark.engine.spatial_queries import rollup_events
    from a_tree_spark.pipeline.temporal import windowed_rollup
    from a_tree_spark.streaming.rollup_stream import windowed_rollup_stream

    ev = rollup_events(spark, SF_DIR)
    src_dir = str(tmp_path / "rollup_src")
    ev.repartition(4).write.parquet(src_dir)

    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    rolled = windowed_rollup_stream(stream, watermark="1 hour")
    query = (
        rolled.writeStream.format("memory")
        .queryName("rollup_parity")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)

    got = sorted(map(tuple, spark.sql("SELECT * FROM rollup_parity").collect()))
    want = sorted(map(tuple, windowed_rollup(ev, "1 day").collect()))
    assert got == want and len(want) > 0


def test_windowed_rollup_stream_append_emits_only_closed_windows(spark, tmp_path):
    """Append mode + watermark: after a first micro-batch of old days
    and a second with a newer day, the sink holds exactly the windows
    whose end precedes the advanced watermark — the state-eviction
    contract that bounds rollup state at scale."""
    from datetime import datetime

    from a_tree_spark.streaming.rollup_stream import windowed_rollup_stream

    schema = "event_id long, ts timestamp, value double, cell_id long"
    day1 = [(1, datetime(2024, 1, 1, 5), 1.0, 7), (2, datetime(2024, 1, 2, 6), 2.0, 7)]
    day9 = [(3, datetime(2024, 1, 9, 12), 4.0, 7)]
    src_dir = tmp_path / "append_src"
    src_dir.mkdir()
    spark.createDataFrame(day1, schema).coalesce(1).write.parquet(
        str(src_dir / "b0.parquet")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir) + "/*")
    )
    rolled = windowed_rollup_stream(stream, watermark="1 hour")
    query = (
        rolled.writeStream.format("memory")
        .queryName("rollup_append")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        query.processAllAvailable()
        # watermark only reflects day-2 data; nothing emitted yet
        spark.createDataFrame(day9, schema).coalesce(1).write.parquet(
            str(src_dir / "b1.parquet")
        )
        query.processAllAvailable()
        # one more empty-ish cycle lets the engine finalize eviction
        query.processAllAvailable()
    finally:
        query.stop()

    rows = {
        (r["window_start"], r["n_events"], r["sum_cents"])
        for r in spark.sql("SELECT * FROM rollup_append").collect()
    }
    # UTC-pinned epochs: naive .timestamp() would use the process TZ,
    # while the Spark session (and thus window starts) is pinned UTC
    from datetime import timezone

    jan1 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())
    jan2 = int(datetime(2024, 1, 2, tzinfo=timezone.utc).timestamp())
    assert (jan1, 1, 100) in rows and (jan2, 1, 200) in rows
    # the day-9 window is still open (watermark hasn't passed its end)
    assert all(ws <= jan2 for ws, _, _ in rows)


def test_session_stream_closed_sessions_equal_batch(spark, tmp_path):
    """session_window streaming == batch lag/cumsum sessionize on the
    sessions the watermark has CLOSED: feed two Jan days of multi-event
    sessions, then a far-future sentinel event that advances the
    watermark past every Jan session + gap; the append sink must then
    hold exactly the batch sessions (sentinel's own still open)."""
    from datetime import datetime, timedelta

    from a_tree_spark.pipeline.temporal import sessionize
    from a_tree_spark.streaming.session_stream import sessionize_stream

    gap = 3600  # 1h sessions for a compact fixture
    t0 = datetime(2024, 1, 1, 8)
    jan = []
    eid = 0
    for user in (1, 2, 3):
        for s in range(2):                 # two sessions per user
            start = t0 + timedelta(hours=12 * s + user)
            for k in range(3):             # three events within gap
                jan.append((eid, user, start + timedelta(seconds=k * (gap - 5))))
                eid += 1
    sentinel = [(9999, 1, datetime(2024, 3, 1))]
    schema = "event_id long, user_id long, ts timestamp"

    src_dir = tmp_path / "sess_src"
    src_dir.mkdir()
    spark.createDataFrame(jan, schema).coalesce(1).write.parquet(
        str(src_dir / "b0.parquet")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir) + "/*")
    )
    sessions = sessionize_stream(stream, gap_seconds=gap, watermark="1 hour")
    query = (
        sessions.writeStream.format("memory")
        .queryName("sess_append")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        spark.createDataFrame(sentinel, schema).coalesce(1).write.parquet(
            str(src_dir / "b1.parquet")
        )
        query.processAllAvailable()
        query.processAllAvailable()
    finally:
        query.stop()

    got = sorted(
        tuple(r) for r in spark.sql(
            "SELECT user_id, session_start, session_end, n_events, "
            "first_event, last_event, duration_s FROM sess_append"
        ).collect()
    )
    batch = sessionize(
        spark.createDataFrame(jan, schema), gap_seconds=gap
    ).select(
        "user_id", "session_start", "session_end", "n_events",
        "first_event", "last_event", "duration_s",
    )
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want and len(want) == 6  # 3 users x 2 sessions, all closed


def test_interval_join_stream_equals_batch(spark, tmp_path):
    """Stream-stream interval join == the batch twin on the same data.
    Both sides arrive as file streams; after a sentinel advances the
    watermark past every real event + horizon, the append sink holds
    exactly the batch pairs (minus any involving the sentinel)."""
    from datetime import datetime, timedelta

    from a_tree_spark.streaming.interval_join_stream import interval_join

    t0 = datetime(2024, 1, 1, 12)
    schema = "event_id long, user_id long, ts timestamp"
    lrows = [(i, i % 3, t0 + timedelta(minutes=7 * i)) for i in range(1, 13)]
    rrows = [(100 + i, i % 3, t0 + timedelta(minutes=4 * i)) for i in range(12)]
    sentinel = [(9999, 0, datetime(2024, 2, 1))]

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    ldir.mkdir(); rdir.mkdir()
    spark.createDataFrame(lrows, schema).coalesce(1).write.parquet(str(ldir / "b0"))
    spark.createDataFrame(rrows, schema).coalesce(1).write.parquet(str(rdir / "b0"))

    lstream = spark.readStream.schema(schema).parquet(str(ldir) + "/*")
    rstream = spark.readStream.schema(schema).parquet(str(rdir) + "/*")
    joined = interval_join(
        lstream, rstream, horizon_seconds=1800,
        watermark="10 minutes", streaming=True,
    )
    query = (
        joined.writeStream.format("memory")
        .queryName("ij_parity")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        spark.createDataFrame(sentinel, schema).coalesce(1).write.parquet(
            str(ldir / "b1")
        )
        query.processAllAvailable()
        query.processAllAvailable()
    finally:
        query.stop()

    got = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT l_event, user_id, r_event, lag_s FROM ij_parity"
        ).collect()
        if r["l_event"] != 9999
    )
    batch = interval_join(
        spark.createDataFrame(lrows, schema),
        spark.createDataFrame(rrows, schema),
        horizon_seconds=1800,
    )
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(want) > 0


def test_asof_stream_matches_batch(spark, tmp_path):
    """Streaming as-of join == batch asof_join on every left row the
    watermark has finalized. Exercises: carry across triggers (clicks
    land in batch 0, purchases needing them in batch 1), inclusive <=
    at equal ts, greatest-right-id tie-break, no-prior-right NULLs, and
    the event-time-timeout flush (user 3 gets no traffic in the
    sentinel trigger yet must still emit)."""
    from datetime import datetime, timedelta

    from a_tree_spark.pipeline.temporal import asof_join
    from a_tree_spark.streaming.asof_stream import asof_stream

    t0 = datetime(2024, 1, 1, 12)
    lschema = "event_id long, user_id long, ts timestamp"
    rschema = "event_id long, user_id long, ts timestamp, cents long"
    # batch 0 rights: two clicks at the SAME ts for user 1 (id tie ->
    # greatest wins), a click exactly AT purchase ts for user 2
    # (inclusive <=), none for user 3 until later
    r0 = [
        (101, 1, t0, 500), (102, 1, t0, 700),
        (103, 2, t0 + timedelta(minutes=30), 900),
    ]
    # batch 0 lefts: user 2's purchase exactly at its click ts; user 3
    # purchase with NO prior click (NULL asof)
    l0 = [
        (1, 2, t0 + timedelta(minutes=30)),
        (2, 3, t0 + timedelta(minutes=10)),
    ]
    # batch 1: user 1 purchase AFTER the tied clicks (carry across
    # triggers — and after batch 0's watermark, 12:20, so it is not
    # dropped as late); a click for user 3 then a purchase above it
    r1 = [(104, 3, t0 + timedelta(minutes=40), 1100)]
    l1 = [
        (3, 1, t0 + timedelta(minutes=35)),
        (4, 3, t0 + timedelta(minutes=50)),
    ]
    sentinel = [(9999, 99, datetime(2024, 2, 1))]  # key 99: nobody else's group

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    ldir.mkdir(); rdir.mkdir()
    spark.createDataFrame(l0, lschema).coalesce(1).write.parquet(str(ldir / "b0"))
    spark.createDataFrame(r0, rschema).coalesce(1).write.parquet(str(rdir / "b0"))

    lstream = (
        spark.readStream.schema(lschema)
        .option("maxFilesPerTrigger", 1).parquet(str(ldir) + "/*")
    )
    rstream = (
        spark.readStream.schema(rschema)
        .option("maxFilesPerTrigger", 1).parquet(str(rdir) + "/*")
    )
    joined = asof_stream(
        lstream, rstream, on="user_id", right_vals={"cents": "cents"},
        watermark="10 minutes",
    )
    query = (
        joined.writeStream.format("memory")
        .queryName("asof_parity")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        # the right file lands first: the running query may trigger
        # between the two writes, and a left-only trigger (max ts 12:50)
        # followed by a no-data trigger moves the watermark to 12:40,
        # which would drop click 104 (12:40) as late
        spark.createDataFrame(r1, rschema).coalesce(1).write.parquet(str(rdir / "b1"))
        spark.createDataFrame(l1, lschema).coalesce(1).write.parquet(str(ldir / "b1"))
        query.processAllAvailable()
        spark.createDataFrame(sentinel, lschema).coalesce(1).write.parquet(
            str(ldir / "b2")
        )
        query.processAllAvailable()
        query.processAllAvailable()  # no-data batch fires the timeouts
    finally:
        query.stop()

    got = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT event_id, user_id, ts, asof_event_id, asof_cents "
            "FROM asof_parity"
        ).collect()
        if r["event_id"] != 9999
    )
    batch = asof_join(
        spark.createDataFrame(l0 + l1, lschema),
        spark.createDataFrame(r0 + r1, rschema),
        on="user_id",
        right_vals={"cents": "cents"},
    ).select("event_id", "user_id", "ts", "asof_event_id", "asof_cents")
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(want) == 4
    by_id = {r[0]: r for r in got}
    assert by_id[3][3] == 102            # greatest-id tie-break carried
    assert by_id[1][3] == 103            # inclusive <= at equal ts
    assert by_id[2][3] is None           # no prior right -> NULL
    assert by_id[4][3] == 104            # cross-trigger carry, timeout flush


def test_session_stream_local_merge_parity(spark, tmp_path):
    """The skew-proof form of streaming sessionization: with
    ``spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition``
    enabled, Spark merges a hot key's events into sessions BEFORE the
    state-store shuffle (the streaming analogue of sessionize_skewed's
    LOCAL phase — per-partition work replaces single-state-partition
    work). The optimization must be invisible in the output: closed
    sessions equal the batch sessionize exactly, including a hot key
    holding most of the events."""
    from datetime import datetime, timedelta

    from a_tree_spark.pipeline.temporal import sessionize
    from a_tree_spark.streaming.session_stream import sessionize_stream

    gap = 3600
    t0 = datetime(2024, 1, 1, 8)
    rows = []
    eid = 0
    # hot key 1: 3 sessions x 40 events; cold keys 2..5: 1 session x 3
    for s in range(3):
        start = t0 + timedelta(hours=10 * s)
        for k in range(40):
            rows.append((eid, 1, start + timedelta(seconds=k * 80)))
            eid += 1
    for user in (2, 3, 4, 5):
        start = t0 + timedelta(hours=user)
        for k in range(3):
            rows.append((eid, user, start + timedelta(seconds=k * (gap - 5))))
            eid += 1
    sentinel = [(9999, 1, datetime(2024, 3, 1))]
    schema = "event_id long, user_id long, ts timestamp"

    src_dir = tmp_path / "sess_src"
    src_dir.mkdir()
    spark.createDataFrame(rows, schema).repartition(4).write.parquet(
        str(src_dir / "b0.parquet")
    )

    conf_key = (
        "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition"
    )
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    try:
        # no maxFilesPerTrigger: all 4 part-files of b0 must land in ONE
        # trigger — (a) the local merge then really merges across 4
        # input partitions, (b) splitting them into triggers would let
        # a later file's watermark drop an earlier file's events
        stream = spark.readStream.schema(schema).parquet(str(src_dir) + "/*")
        sessions = sessionize_stream(stream, gap_seconds=gap, watermark="1 hour")
        query = (
            sessions.writeStream.format("memory")
            .queryName("sess_localmerge")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            query.processAllAvailable()
            spark.createDataFrame(sentinel, schema).coalesce(1).write.parquet(
                str(src_dir / "b1.parquet")
            )
            query.processAllAvailable()
            query.processAllAvailable()
        finally:
            query.stop()
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)

    got = sorted(
        tuple(r) for r in spark.sql(
            "SELECT user_id, session_start, session_end, n_events, "
            "first_event, last_event, duration_s FROM sess_localmerge"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in sessionize(spark.createDataFrame(rows, schema), gap_seconds=gap)
        .select(
            "user_id", "session_start", "session_end", "n_events",
            "first_event", "last_event", "duration_s",
        )
        .collect()
    )
    assert got == want and len(want) == 7  # 3 hot + 4 cold sessions


def test_flows_stream_matches_batch_moves(spark, tmp_path):
    """Streaming OD moves == batch od_moves on every transition the
    watermark has finalized. Exercises: same-day running-min folding
    across triggers (a batch-1 event EARLIER in day 0 steals the
    anchor before day 0 closes), cross-trigger carry over a calendar
    gap, per-user isolation, and the event-time-timeout flush (user 2
    gets no traffic in the sentinel trigger yet must still emit)."""
    from datetime import datetime, timedelta

    from a_tree_spark.pipeline.temporal import od_moves
    from a_tree_spark.streaming.flows_stream import flows_stream

    day = lambda d, h=0, m=0: datetime(2024, 1, 1 + d, h, m)
    schema = "event_id long, user_id long, ts timestamp, cell_id long"
    # batch 0: user 1 day0 anchor candidate at 10:00 (cell 7); user 2
    # day0 anchor (cell 3)
    b0 = [
        (10, 1, day(0, 10), 7),
        (20, 2, day(0, 9), 3),
    ]
    # batch 1 (watermark after batch 0: max ts 10:00 - 1h = 09:00): an
    # EARLIER day-0 event for user 1 (09:30 — above the watermark,
    # before the 10:00 candidate) must replace the pending anchor;
    # day-1 and day-3 events create the transitions once their days
    # close
    b1 = [
        (11, 1, day(0, 9, 30), 5),
        (12, 1, day(1, 12), 9),
        (13, 1, day(3, 6), 2),    # calendar gap: day1 -> day3
        (21, 2, day(2, 1), 4),
    ]
    sentinel = [(999, 99, day(30), 0)]  # advances wm past every day

    src = tmp_path / "ev"
    src.mkdir()
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(str(src / "b0"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(str(src) + "/*")
    )
    moves = flows_stream(stream, watermark="1 hour")
    query = (
        moves.writeStream.format("memory")
        .queryName("flows_parity")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
        query.processAllAvailable()
        spark.createDataFrame(sentinel, schema).coalesce(1).write.parquet(
            str(src / "b2")
        )
        query.processAllAvailable()
        query.processAllAvailable()  # no-data batch fires the timeouts
    finally:
        query.stop()

    got = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, day, from_cell, to_cell FROM flows_parity"
        ).collect()
        if r["user_id"] != 99
    )
    want = sorted(
        map(
            tuple,
            od_moves(
                spark.createDataFrame(b0 + b1, schema)
            ).select("user_id", "day", "from_cell", "to_cell").collect(),
        )
    )
    assert got == want and len(want) == 3
    by_user_day = {(r[0], r[1]): r for r in got}
    d0 = int(day(0).timestamp() // 86400)
    # the LATE-arriving earlier event won day 0's anchor (cell 5, not 7)
    assert by_user_day[(1, d0 + 1)][2] == 5
    # calendar-gap carry: day1 -> day3 transition, no phantom day2
    assert by_user_day[(1, d0 + 3)] == (1, d0 + 3, 9, 2)
    # user 2 flushed by timeout without sentinel traffic on its key
    assert by_user_day[(2, d0 + 2)] == (2, d0 + 2, 3, 4)


def test_flows_stream_crash_recovery_restores_carry(spark, tmp_path):
    """Kill a checkpointed flows query after its first micro-batch and
    prove the restart restores the applyInPandasWithState blob: the
    post-crash transition's from_cell anchors a day finalized BEFORE
    the crash, so it is correct only if the carry state survived — a
    fresh query would emit from_cell of a later day (or nothing)."""
    from datetime import datetime

    from a_tree_spark.streaming.flows_stream import flows_stream

    day = lambda d, h=0: datetime(2024, 1, 1 + d, h)
    schema = "event_id long, user_id long, ts timestamp, cell_id long"
    src_dir = str(tmp_path / "src")
    out_dir = tmp_path / "out"
    # file 0: user 1 day0 anchor (cell 7) + day1 probe that closes
    # day 0 once the watermark moves; file 1 (post-crash): day2 event
    # -> transitions day0->day1 and day1->day2 finalize after file 2's
    # far-future sentinel advances the watermark
    parts = [
        [(10, 1, day(0, 6), 7), (11, 1, day(1, 6), 9)],
        [(12, 1, day(2, 6), 4)],
        [(999, 99, datetime(2024, 2, 15), 0)],
    ]
    for part in parts:
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    def make_sink(poison: bool):
        def sink(df, batch_id):
            if poison and batch_id >= 1:
                raise RuntimeError("injected crash")
            df.write.mode("overwrite").parquet(str(out_dir / f"b{batch_id}"))
        return sink

    def start(poison: bool):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return (
            flows_stream(stream, watermark="1 hour")
            .writeStream.foreachBatch(make_sink(poison))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    crashed = start(poison=True)
    with pytest.raises(Exception):
        crashed.awaitTermination(120)
        raise RuntimeError("query should have failed")  # pragma: no cover
    assert crashed.exception() is not None

    resumed = start(poison=False)
    resumed.awaitTermination(120)
    assert resumed.exception() is None

    got = sorted(
        (r["user_id"], r["day"], r["from_cell"], r["to_cell"])
        for r in spark.read.parquet(str(out_dir / "b*")).collect()
        if r["user_id"] != 99
    )
    d0 = int(day(0).timestamp() // 86400)
    assert got == [
        (1, d0 + 1, 7, 9),   # day0 anchor carried across the crash
        (1, d0 + 2, 9, 4),
    ]
