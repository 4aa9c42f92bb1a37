"""Checkpoint lifetimes: ``pipeline/materialize.py`` is the one owner of
the storage that lineage cuts pin.

- a handle tracks exactly the RDD its checkpoint persisted, and frees
  only that RDD's blocks, even beside an identical plan;
- the retained FIFO releases only its oldest handle on overflow;
- the construct-then-execute pattern (build every lazy frame first,
  then run them) gives the one-at-a-time results;
- operators that raise on non-convergence hold no storage afterwards;
- no other module under ``a_tree_spark/`` cuts lineage by itself.
"""

from __future__ import annotations

import re
from collections import deque
from pathlib import Path

import pytest

from a_tree_spark.pipeline import materialize
from a_tree_spark.pipeline.materialize import Held, retain

from tests.conftest import SF_DIR


def _persistent_ids(spark) -> set:
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def _bytes_held(spark) -> int:
    return sum(
        info.memSize() + info.diskSize()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


def _handle_ids(held: Held) -> list[int]:
    return [rdd.id() for rdd in held._rdds]


@pytest.mark.parametrize("eager", [False, True])
def test_handle_tracks_the_persisted_rdd(spark, eager):
    """The RDD a handle holds is the one ``getPersistentRDDs`` gained
    (the plan's ``LogicalRDD``). This pins the private-API assumption:
    a Spark upgrade that breaks it fails here instead of leaking."""
    before = _persistent_ids(spark)
    held = Held()
    frame = held.checkpoint(
        spark.range(2000).selectExpr("id", "id % 7 AS k"), eager=eager
    )
    gained = _persistent_ids(spark) - before
    assert _handle_ids(held) == sorted(gained) and len(gained) == 1
    assert frame.count() == 2000
    held.release()
    assert not _persistent_ids(spark) & gained


def test_identical_plans_stay_independent(spark):
    """Two handles over the identical plan own separate blocks:
    releasing one leaves the other's frame collectable (a plan-keyed
    ``.cache()`` shares one entry, so one call's release evicted the
    other's mid-query). The released frame fails loudly; it never
    reads stale data."""
    df = spark.range(3000).selectExpr("id", "id % 11 AS k")
    want = sorted(map(tuple, df.collect()))
    first, second = Held(), Held()
    released = first.checkpoint(df)
    kept = second.checkpoint(df)
    assert released.count() == kept.count() == 3000
    first.release()
    assert sorted(map(tuple, kept.collect())) == want
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        released.collect()
    second.release()


def test_retained_fifo_releases_only_the_oldest(spark, monkeypatch):
    monkeypatch.setattr(materialize, "_retained", deque())
    helds, frames = [], []
    for i in range(materialize.RETAINED_CALLS + 1):
        held = Held()
        frames.append(held.checkpoint(spark.range(100 + i), eager=True))
        helds.append(held)
        if i < materialize.RETAINED_CALLS:
            retain(held)
    stored = {
        info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert all(set(_handle_ids(h)) <= stored for h in helds)
    first_ids = set(_handle_ids(helds[0]))
    retain(helds[-1])
    persistent = _persistent_ids(spark)
    assert not persistent & first_ids
    for i, (held, frame) in enumerate(zip(helds[1:], frames[1:]), start=1):
        assert set(_handle_ids(held)) <= persistent
        assert frame.count() == 100 + i
    for held in helds:
        held.release()


def test_dedup_frames_built_before_any_runs(spark):
    """Construct-then-execute, as the query entry point does: every
    dedup frame is built lazily before any of them runs, and each must
    equal its one-at-a-time result (retained storage outlives the call
    that made it, and no call frees another call's blocks)."""
    from a_tree_spark.pipeline import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = D.corpus_with_dups(docs)
    builders = {
        "simhash_pairs": lambda: D.simhash_near_dup_pairs(corpus),
        "clusters": lambda: D.simhash_duplicate_clusters(corpus),
        "canonical": lambda: D.canonical_documents(
            corpus, D.simhash_duplicate_clusters(corpus)
        ),
        "curation": lambda: D.curated_corpus(docs),
        "ngram": lambda: D.ngram_jaccard_pairs(corpus),
        "minhash": lambda: D.minhash_lsh_pairs(corpus),
    }

    def rows(df):
        return sorted(map(tuple, df.collect()))

    alone = {name: rows(build()) for name, build in builders.items()}
    frames = {name: build() for name, build in builders.items()}
    together = {name: rows(frame) for name, frame in frames.items()}
    assert together == alone
    assert all(alone.values())


def test_duplicate_clusters_frees_storage_when_it_does_not_converge(
    spark, monkeypatch
):
    from a_tree_spark.pipeline import dedup

    monkeypatch.setattr(dedup, "DRIVER_RESOLVE_MAX_PAIRS", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(127)], "doc_a long, doc_b long"
    )
    before = _bytes_held(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(pairs, max_rounds=1)
    assert _bytes_held(spark) <= before


def test_knn_join_frees_storage_when_it_does_not_converge(spark):
    """Three points can never satisfy k=5 before the disk covers the
    grid, so one round cannot finish the query."""
    from a_tree_spark.spatial.ops import knn_join

    queries = spark.createDataFrame(
        [(1, 10.0, 20.0)], "query_id long, lat double, lon double"
    )
    points = spark.createDataFrame(
        [(i, 10.0 + 0.001 * i, 20.0) for i in range(3)],
        "point_id long, lat double, lon double",
    )
    before = _bytes_held(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        knn_join(queries, points, k=5, max_rounds=1)
    assert _bytes_held(spark) <= before


def test_lineage_cuts_have_one_owner():
    """No module under ``a_tree_spark/`` checkpoints, caches or persists
    by itself: pipeline/materialize.py owns every lineage cut."""
    root = Path(__file__).resolve().parents[1] / "a_tree_spark"
    owner = root / "pipeline" / "materialize.py"
    banned = re.compile(
        r"localCheckpoint\(|\.cache\(\)|\.persist\(|getPersistentRDDs"
    )
    offenders = [
        f"{path.relative_to(root)}:{n}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path != owner
        for n, line in enumerate(path.read_text().splitlines(), start=1)
        if banned.search(line)
    ]
    assert offenders == []
