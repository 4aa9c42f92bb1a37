"""Incremental forest maintenance (VERDICT round 3 item 1).

The reference inserts one expression into the live DAG in O(expression)
with refcounted sharing (/root/reference/src/atree.rs:96-245) and
deletes by refcount cascade (src/atree.rs:313-339,430-460). These tests
mirror its incremental scenarios (src/atree.rs:1222-1267,1289-1345) and
pin that ForestBuilder's mutations touch O(changed) nodes — never a
full recompile — while producing match output identical to a cold
compile of the surviving expression set.
"""

import time

import numpy as np
import pytest

from a_tree_spark.expr import (
    AttributeDefinition as A,
    AttributeTable,
    ForestBuilder,
    compile_forest,
    evaluate_event,
    normalize_event,
)
from a_tree_spark.expr.compiler import LEAF
from a_tree_spark.expr.parser import parse
from a_tree_spark.expr.vector import BatchEvaluator
from a_tree_spark.web import PAGE_ATTRIBUTES, standing_page_subscriptions
from tests.conftest import event_batch

ATTRS = AttributeTable([
    A.boolean("private"),
    A.integer("exchange_id"),
    A.string_list("deal_ids"),
])


def matches(builder: ForestBuilder, event: dict) -> list:
    forest = builder.compile()
    return sorted(
        evaluate_event(forest, normalize_event(builder.attributes, event))
    )


def check_refcount_invariant(builder: ForestBuilder) -> None:
    """use_count of every live node == incoming DAG edges + root
    subscriptions (the reference's refcount definition)."""
    expected = [0] * len(builder._kind)
    for i, alive in enumerate(builder._alive):
        if alive and builder._kind[i] != LEAF:
            expected[builder._left[i]] += 1
            expected[builder._right[i]] += 1
    for node_idx, subs in builder._node_subs.items():
        expected[node_idx] += len(subs)
    for i, alive in enumerate(builder._alive):
        if alive:
            assert builder._use_count[i] == expected[i], i
        else:
            assert builder._use_count[i] <= 0 or True  # tombstone


def test_delete_keeps_shared_expression():
    """src/atree.rs:1289-1317: deleting an expression that is a shared
    subexpression of another only removes the subscription id."""
    b = ForestBuilder(ATTRS)
    b.insert(1, "private or exchange_id = 1")
    b.insert(
        2, "private or exchange_id = 1 or deal_ids one of ['deal-1', 'deal-2']"
    )
    event = {"private": None, "exchange_id": 1, "deal_ids": None}
    assert matches(b, event) == [1, 2]

    b.delete(1)
    assert matches(b, event) == [2]
    check_refcount_invariant(b)


def test_delete_keeps_multi_subscribed_expression():
    """src/atree.rs:1319-1345: identical expressions under two ids share
    one node; deleting one id keeps the node for the other."""
    b = ForestBuilder(ATTRS)
    b.insert(1, "private or exchange_id = 1")
    b.insert(2, "private or exchange_id = 1")
    created_after_first_pair = b.nodes_created_total
    assert created_after_first_pair == 3  # leaf, leaf, OR — shared by both

    event = {"private": None, "exchange_id": 1, "deal_ids": None}
    assert matches(b, event) == [1, 2]
    b.delete(1)
    assert matches(b, event) == [2]
    b.delete(2)
    assert matches(b, event) == []
    # refcount exactness: nothing should survive the last delete
    assert not any(b._alive)
    check_refcount_invariant(b)


def test_incremental_insert_shares_with_live_forest():
    """src/atree.rs:1222-1267: a later insert reuses live shared
    subtrees — the arena grows by only the novel nodes."""
    b = ForestBuilder(ATTRS)
    b.insert(1, "exchange_id = 1 and not private")
    before = b.nodes_created_total
    # same AND subtree + one new leaf under a new root
    b.insert(2, "exchange_id = 1 and not private and deal_ids one of ['d1']")
    assert b.nodes_created_total - before == 2  # new leaf + new root AND
    event = {"private": False, "exchange_id": 1, "deal_ids": ["d1"]}
    assert matches(b, event) == [1, 2]
    check_refcount_invariant(b)


def test_reinsert_same_sub_id_replaces():
    b = ForestBuilder(ATTRS)
    b.insert(1, "exchange_id = 1")
    b.insert(1, "exchange_id = 2")
    assert matches(b, {"private": None, "exchange_id": 1, "deal_ids": None}) == []
    assert matches(b, {"private": None, "exchange_id": 2, "deal_ids": None}) == [1]
    assert list(b.sub_ids()) == [1]
    check_refcount_invariant(b)


def test_compaction_drops_dead_leaves_and_preserves_matches():
    """Deleted expressions must not leave their predicates in the
    per-batch leaf evaluation set after compile() compacts."""
    b = ForestBuilder(ATTRS)
    for i in range(50):
        b.insert(i, f"exchange_id = {i} and not private")
    n_leaves_full = len(b.compile().leaves)
    for i in range(0, 50, 2):
        b.delete(i)
    forest = b.compile()
    # 25 eq-leaves died with their expressions; `not private` survives
    assert len(forest.leaves) == n_leaves_full - 25
    event = {"private": False, "exchange_id": 7, "deal_ids": None}
    assert matches(b, event) == [7]
    assert matches(b, {"private": False, "exchange_id": 8, "deal_ids": None}) == []
    check_refcount_invariant(b)


def _page_events(n: int, seed: int = 11):
    from a_tree_spark.web.pipeline import TLD_TABLE

    rng = np.random.RandomState(seed)
    langs = [row[1] for row in TLD_TABLE]
    tlds = sorted({row[0].split("-")[-1] for row in TLD_TABLE})
    toks = [
        [f"tok{t}" for t in rng.randint(0, 5000, size=rng.randint(0, 6))]
        for _ in range(n)
    ]
    columns = {
        "lang": [langs[i % len(langs)] for i in rng.randint(0, 97, n)],
        "tld": [tlds[i % len(tlds)] for i in rng.randint(0, 97, n)],
        "n_tokens": rng.randint(0, 90, n).tolist(),
        "has_geo": (rng.rand(n) < 0.4).tolist(),
        "lat_band": rng.randint(0, 18, n).tolist(),
        "lead_tokens": toks,
    }
    return event_batch(
        PAGE_ATTRIBUTES,
        [dict(zip(columns, row)) for row in zip(*columns.values())],
    )


def _match_set(forest, batch) -> set:
    rows, subs = BatchEvaluator(forest).evaluate_arrow(batch)
    return set(zip(rows.tolist(), subs.tolist()))


def test_churn_on_live_1e5_forest_equals_cold_recompile():
    """VERDICT round 3 'done' criterion: insert+delete of 1k expressions
    into a live 1e5-subscription forest produces match output identical
    to a cold recompile, creating O(changed) nodes, with the incremental
    compile() far below the full-recompile budget."""
    n, churn = 100_000, 1_000
    standing = standing_page_subscriptions(n + churn)
    live = ForestBuilder(PAGE_ATTRIBUTES)
    for sub_id in range(n):
        live.insert(sub_id, standing[sub_id])
    live.compile()  # settle: the churn below is against a compiled forest

    created_before = live.nodes_created_total
    t0 = time.perf_counter()
    for sub_id in range(0, churn * 7, 7):          # delete 1k spread out
        live.delete(sub_id)
    for sub_id in range(n, n + churn):             # insert 1k new
        live.insert(sub_id, standing[sub_id])
    t_mutate = time.perf_counter() - t0
    t0 = time.perf_counter()
    incremental = live.compile()
    t_compile_incr = time.perf_counter() - t0
    created_delta = live.nodes_created_total - created_before

    # O(changed): the templated expressions have <= ~12 DAG nodes each,
    # and CSE reuse means far fewer in practice
    assert created_delta <= churn * 12, created_delta
    check_refcount_invariant(live)

    # cold recompile of the identical surviving set, from pre-parsed NNF
    # (the 0.8s-at-1e5 comparator from VERDICT rounds 2-3)
    survivors = {
        s: parse(standing[s], PAGE_ATTRIBUTES).optimize()
        for s in live.sub_ids()
    }
    t0 = time.perf_counter()
    cold = compile_forest(PAGE_ATTRIBUTES, survivors)
    t_compile_cold = time.perf_counter() - t0

    events = _page_events(2000)
    assert _match_set(incremental, events) == _match_set(cold, events)

    # the incremental snapshot must be far cheaper than the recompile
    # (measured ~20x; 3x here to stay robust under host CPU steal)
    assert t_compile_incr < t_compile_cold / 3, (
        t_compile_incr, t_compile_cold, t_mutate
    )
