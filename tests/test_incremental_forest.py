"""Incremental forest maintenance (VERDICT round 3 item 1).

The reference inserts one expression into the live DAG in O(expression)
with refcounted sharing (/root/reference/src/atree.rs:96-245) and
deletes by refcount cascade (src/atree.rs:313-339,430-460). These tests
mirror its incremental scenarios (src/atree.rs:1222-1267,1289-1345) and
pin that ForestBuilder's mutations touch O(changed) nodes — never a
full recompile — while producing match output identical to a cold
compile of the surviving expression set.
"""

import random
import time
from decimal import Decimal

import numpy as np
import pytest
from hypothesis import settings, strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    invariant,
    precondition,
    rule,
)

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
from a_tree_spark.expr.vector import BatchEvaluator, planned_evaluator
from a_tree_spark.web import PAGE_ATTRIBUTES, standing_page_subscriptions
from tests.conftest import event_batch
from tests.test_expr_properties import (
    ATTRS as PROP_ATTRS,
    event_strategy,
    expression_strategy,
)

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
    """use_count of every node == incoming DAG edges from live nodes +
    root subscriptions (the reference's refcount definition). A slot is
    live while its use count is above zero, so a freed slot has no live
    parent and no subscription."""
    expected = [0] * len(builder._kind)
    for i, uses in enumerate(builder._use_count):
        if uses > 0 and builder._kind[i] != LEAF:
            expected[builder._left[i]] += 1
            expected[builder._right[i]] += 1
    for node_idx in builder._sub_root.values():
        expected[node_idx] += 1
    assert builder._use_count == expected


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
    assert not any(b._use_count)
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
    per-batch leaf evaluation set: compile() snapshots live slots only."""
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


def test_insert_rejects_a_tree_not_in_nnf():
    """A parsed tree that skipped .optimize() still holds NOT nodes the
    walk cannot read: insert raises before the forest changes, also
    when the id is live (no half-done replace)."""
    b = ForestBuilder(ATTRS)
    b.insert(1, "exchange_id = 1 and not private")
    forest = b.compile()
    nodes = b.live_node_count
    with pytest.raises(TypeError):
        b.insert(2, parse("not (private or exchange_id = 2)", ATTRS))
    with pytest.raises(TypeError):
        b.insert(1, parse("exchange_id = 3", ATTRS))
    assert b.live_node_count == nodes
    assert list(b.sub_ids()) == [1]
    assert b.compile() is forest
    check_refcount_invariant(b)


def test_reinserts_reuse_freed_slots_without_compile():
    """Freed slots are reused (the reference's Slab): 5 rounds of
    deleting 400 live ids from a 10k forest and re-inserting the same
    expressions, with no compile() in between, leave the arena at the
    peak live node count — no slot is left behind as a tombstone."""
    standing = standing_page_subscriptions(10_000)
    b = ForestBuilder(PAGE_ATTRIBUTES)
    for sub_id, expression in standing.items():
        b.insert(sub_id, expression)
    peak = b.live_node_count
    rng = random.Random(1)
    for _ in range(5):
        moved = rng.sample(list(b.sub_ids()), 400)
        for sub_id in moved:
            b.delete(sub_id)
        for sub_id in moved:
            b.insert(sub_id, standing[sub_id])
            peak = max(peak, b.live_node_count)
        assert len(b._kind) == peak
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


# ---- stateful differential test --------------------------------------


def _shapes(forest) -> list:
    """Structural form of every node: a leaf's predicate key, or its op
    over the set of its children's forms (child order carries no
    meaning)."""
    shapes: list = []
    nodes = zip(
        forest.node_kind.tolist(), forest.node_left.tolist(),
        forest.node_right.tolist(),
    )
    for kind, left, right in nodes:
        if kind == LEAF:
            shapes.append(forest.leaves[left].key())
        else:
            shapes.append((kind, frozenset((shapes[left], shapes[right]))))
    return shapes


def _mirror(node):
    """The same NNF tree with every AND/OR's operands swapped."""
    if node.tag == "value":
        return node
    return node._replace(left=_mirror(node.right), right=_mirror(node.left))


def _sub_shapes(forest) -> dict:
    shapes = _shapes(forest)
    return {
        sub: shapes[node]
        for sub, node in zip(forest.sub_ids.tolist(), forest.sub_roots.tolist())
    }


def _check_plan_layout(plan, forest, live) -> None:
    """The plan's slots follow (level, kind, not root, node id), and its
    root CSR is the live subscriptions grouped by root, each root's in
    insertion order (``live``, sub id -> root through the snapshot's
    ``sub_ids`` / ``sub_roots``)."""
    kind, level = forest.node_kind.tolist(), forest.node_level.tolist()
    sub_root = dict(zip(forest.sub_ids.tolist(), forest.sub_roots.tolist()))
    roots = set(sub_root.values())
    order = sorted(
        range(forest.num_nodes),
        key=lambda i: (level[i], kind[i], i not in roots, i),
    )
    slot = {node: s for s, node in enumerate(order)}
    n_leaf = kind.count(LEAF)
    assert plan.n_leaf_nodes == n_leaf
    grouped = [i for g in plan.member_groups for i in g.leaf_idxs]
    rest = sorted(set(range(len(forest.leaves))) - set(grouped))
    row = {leaf: r for r, leaf in enumerate(grouped + rest)}
    assert plan.leaf_of_node.tolist() == [
        row[forest.node_left[i]] for i in order[:n_leaf]
    ]
    lo = n_leaf
    for block_kind, block_lo, hi, left, right in plan.levels:
        nodes = order[block_lo:hi]
        assert block_lo == lo < hi
        assert {(level[i], kind[i]) for i in nodes} == {
            (level[nodes[0]], block_kind)
        }
        assert left.tolist() == [slot[forest.node_left[i]] for i in nodes]
        assert right.tolist() == [slot[forest.node_right[i]] for i in nodes]
        lo = hi
    assert lo == forest.num_nodes
    root_slots = [s for s, node in enumerate(order) if node in roots]
    assert [
        seg_lo + j for seg_lo, k in plan.root_segments for j in range(k)
    ] == root_slots

    by_root: dict[int, list] = {}
    for sub in live:
        by_root.setdefault(slot[sub_root[sub]], []).append(sub)
    assert plan.root_nodes.tolist() == sorted(by_root) == root_slots
    offsets = plan.root_sub_offsets.tolist()
    assert [
        plan.root_sub_ids[a:b].tolist() for a, b in zip(offsets, offsets[1:])
    ] == [by_root[s] for s in root_slots]


# null lists, empty lists and null list elements in every checked batch
_EDGE_EVENTS = [
    {"x": None, "xs": None, "s": None, "ss": None, "b": None, "f": None},
    {"x": 0, "xs": [], "s": "v0", "ss": [], "b": False, "f": Decimal("0")},
    {"x": 3, "xs": [3, None], "s": "v1", "ss": ["v1", None], "b": True,
     "f": Decimal("5.25")},
]


def _builder_fields(builder: ForestBuilder) -> dict:
    """A copy of every builder field but the cached snapshot; dicts as
    item lists, so their order counts."""
    return {
        name: (
            list(value.items()) if isinstance(value, dict)
            else list(value) if isinstance(value, list) else value
        )
        for name, value in vars(builder).items() if name != "_forest"
    }


class ForestBuilderMachine(RuleBasedStateMachine):
    """Random insert / re-insert / delete / compile runs on one live
    ForestBuilder. After every step the refcounts, the key map and the
    free list are exact; compile() changes no builder field but its
    snapshot cache; after every compile the snapshot equals a cold
    compile of the live expressions, the plan's slot layout and root
    CSR equal a test-local reference sort, and the planned evaluator
    equals the exact oracle row by row."""

    def __init__(self):
        super().__init__()
        self.builder = ForestBuilder(PROP_ATTRS)
        self.live: dict = {}   # sub id -> DSL string or NnfNode, insert order
        self.deleted: list[int] = []
        self.next_id = 0
        self.edited = False
        self.plan = None

    def _insert(self, sub_id, expression) -> None:
        self.builder.insert(sub_id, expression)
        self.live.pop(sub_id, None)
        self.live[sub_id] = expression
        self.edited = True

    @rule(expression=expression_strategy())
    def insert(self, expression):
        self._insert(self.next_id, expression)
        self.next_id += 1

    @precondition(lambda self: self.live)
    @rule(data=st.data(), expression=expression_strategy())
    def reinsert_live_id(self, data, expression):
        self._insert(data.draw(st.sampled_from(list(self.live))), expression)

    @precondition(lambda self: self.live)
    @rule(data=st.data())
    def insert_mirror_of_live(self, data):
        """AND/OR are commutative: the operand-swapped tree of a live
        expression lands on its root and creates no node."""
        source = data.draw(st.sampled_from(list(self.live)))
        tree = self.live[source]
        if isinstance(tree, str):
            tree = parse(tree, PROP_ATTRS).optimize()
        created = self.builder.nodes_created_total
        self._insert(self.next_id, _mirror(tree))
        assert self.builder.nodes_created_total == created
        assert self.builder._sub_root[self.next_id] == self.builder._sub_root[source]
        self.next_id += 1

    @precondition(lambda self: self.live)
    @rule(data=st.data())
    def delete_live_id(self, data):
        sub_id = data.draw(st.sampled_from(list(self.live)))
        self.builder.delete(sub_id)
        del self.live[sub_id]
        self.deleted.append(sub_id)
        self.edited = True

    @precondition(lambda self: self.deleted)
    @rule(data=st.data())
    def delete_deleted_id(self, data):
        self.builder.delete(data.draw(st.sampled_from(self.deleted)))

    @rule()
    def delete_unknown_id(self):
        self.builder.delete(-1)

    @rule(events=st.lists(event_strategy, max_size=8))
    def compile(self, events):
        before = _builder_fields(self.builder)
        forest = self.builder.compile()
        assert _builder_fields(self.builder) == before
        plan = planned_evaluator(forest)
        assert (plan is not self.plan) == (self.edited or self.plan is None)
        self.plan, self.edited = plan, False

        n_leaves = len(forest.leaves)
        assert forest.node_kind[:n_leaves].tolist() == [LEAF] * n_leaves
        assert forest.node_left[:n_leaves].tolist() == list(range(n_leaves))
        assert LEAF not in forest.node_kind[n_leaves:].tolist()
        assert forest.sub_ids.tolist() == list(self.live)
        _check_plan_layout(plan, forest, self.live)

        cold = compile_forest(PROP_ATTRS, self.live)
        shapes = _shapes(forest)
        assert len(set(shapes)) == forest.num_nodes
        assert set(shapes) == set(_shapes(cold))
        assert _sub_shapes(forest) == _sub_shapes(cold)

        events = events + _EDGE_EVENTS
        rows, subs = plan.evaluate_arrow(event_batch(PROP_ATTRS, events))
        got: dict[int, set] = {}
        for row, sub in zip(rows.tolist(), subs.tolist()):
            got.setdefault(row, set()).add(sub)
        for i, event in enumerate(events):
            expected = set(evaluate_event(forest, event))
            assert got.get(i, set()) == expected, (self.live, event)
            assert set(evaluate_event(cold, event)) == expected

    @invariant()
    def refcounts_and_keys_are_exact(self):
        b = self.builder
        check_refcount_invariant(b)
        live = [i for i, uses in enumerate(b._use_count) if uses > 0]
        free = [i for i, uses in enumerate(b._use_count) if uses == 0]
        assert len(b._free) == len(set(b._free))
        assert sorted(b._free) == free
        assert len(live) == b.live_node_count == len(b._node_by_key)
        assert b._node_by_key == {
            (LEAF, b._predicate[i].key(), -1) if b._kind[i] == LEAF
            else (b._kind[i], b._left[i], b._right[i]): i
            for i in live
        }


TestForestBuilderMachine = ForestBuilderMachine.TestCase
TestForestBuilderMachine.settings = settings(
    max_examples=40, stateful_step_count=30, derandomize=True,
    database=None, deadline=None,
)
