"""Forest compiler: many expressions -> one shared DAG (CSE), flat arrays.

This is the driver-side analog of the reference's A-Tree insert path
(/root/reference/src/atree.rs:96-245): parse -> NNF -> hash-consing
common-subexpression dedup -> dense node arena. Instead of a pointer DAG
we emit structure-of-arrays (SURVEY.md §4.7) that a vectorized
tri-state evaluator plans from (expr/vector.py); the plan, not this
forest, is what ships to executors:

- ``leaves``: unique Predicate list; each distinct leaf is evaluated ONCE
  per Arrow batch as a numpy column — the vectorized generalization of
  the reference's "evaluate each shared node once per event"
  (src/lib.rs:72-75). The leaves are the first nodes, and a leaf's
  index in ``leaves`` is its node id.
- ``node_kind/left/right/level``: int64 arrays over the nodes, in
  topological (children-first) order; Kleene AND/OR become elementwise
  min/max over tri-state codes FALSE=0 < UNKNOWN=1 < TRUE=2, exactly
  the reference's success/failed/evaluated bitset triple
  (src/evaluation.rs:1-64) generalized to row vectors.
- ``sub_ids`` / ``sub_roots``: one entry per live subscription, in
  insertion order: its id and its root node. A root can be interior (an
  expression may equal a shared subexpression, src/atree.rs:111-119),
  and duplicate expressions under different ids share one root
  (src/atree.rs:1001-1014). The planner groups subscriptions by root
  with one stable argsort.

Node identity. The reference finds a shared node by a commutative 64-bit
hash of the subtree (src/ast.rs:30-54) and orders children cheap-first
for its short-circuiting evaluator (src/atree.rs:133-137). Here children
are already shared when their parent is looked up, so a node is exactly
identified by ``(kind, a, b)``: ``(LEAF, predicate key, -1)`` for a leaf
and ``(AND|OR, lower child slot, higher child slot)`` for an interior
node — plain hash-consing, commutative by construction, with no hash to
collide. Child order carries no meaning: the packed sweep,
``evaluate_event`` and the generated SQL read both children
symmetrically and never short-circuit.

Insert/delete are INCREMENTAL (reference src/atree.rs:96-245 insert,
:313-339,430-460 refcounted delete): the key -> slot map, the use
counts and the node arrays live across mutations in ``ForestBuilder``,
a slot arena like the reference's ``Slab`` (src/atree.rs:23,75). Insert
walks only the new expression (shared subtrees hit the key map and
stop); delete decrements use counts, cascading into children exactly
like the reference's ``decrement_use_count``, and a node that reaches
zero frees its slot for the next new node. Each fact is stored once: a
slot is live while its use count is above zero, its key is read back
from its kind, children and predicate, and a subscription's root is
``_sub_root`` alone (the root -> subscribers grouping is the planner's
argsort). ``compile()`` snapshots the live slots with numpy alone — a
stable sort by level gives the node ids, and one gather remaps the
children and roots — and leaves the builder as it was, so a churning
subscription set pays O(changed expression) per mutation instead of
the O(total) reparse of a cold ``compile_forest`` (~0.8 s at 1e5
subscriptions; the snapshot is ~ms).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .ast import NnfNode, Predicate
from .parser import parse
from .schema import AttributeTable

LEAF, AND, OR = 0, 1, 2


@dataclass
class CompiledForest:
    attributes: AttributeTable
    leaves: list[Predicate]
    node_kind: np.ndarray         # int64 LEAF/AND/OR per node
    node_left: np.ndarray         # leaf: its id = index into leaves; and/or: a child id
    node_right: np.ndarray        # leaf: -1; and/or: the other child id
    node_level: np.ndarray        # leaf: 0; interior: 1 + max(children)
    sub_ids: np.ndarray           # live subscription ids, insertion order
    sub_roots: np.ndarray         # int64 root node of each sub_ids entry
    # the snapshot's one BatchEvaluator (vector.planned_evaluator)
    _plan: object = field(default=None, init=False, repr=False, compare=False)

    @property
    def num_nodes(self) -> int:
        return len(self.node_kind)

    def to_graphviz(self) -> str:
        """DOT dump of the compiled DAG (reference to_graphviz,
        src/atree.rs:341-427 — debug parity, not byte parity)."""
        subs: dict[int, list] = {}
        for sub, root in zip(self.sub_ids.tolist(), self.sub_roots.tolist()):
            subs.setdefault(root, []).append(sub)
        lines = ["digraph forest {"]
        nodes = zip(
            self.node_kind.tolist(), self.node_left.tolist(),
            self.node_right.tolist(),
        )
        for i, (kind, left, right) in enumerate(nodes):
            if kind == LEAF:
                leaf = self.leaves[left]
                label = f"{leaf.attr_name} {leaf.op.value}"
                if leaf.operand is not None:
                    label += f" {leaf.operand!r}"
            else:
                label = "and" if kind == AND else "or"
            if i in subs:
                label += f"\\nsubs={sorted(subs[i])}"
            lines.append(f'  n{i} [label="{label}"];')
            if kind != LEAF:
                lines.append(f"  n{i} -> n{left};")
                lines.append(f"  n{i} -> n{right};")
        lines.append("}")
        return "\n".join(lines)


class ForestBuilder:
    """Live incremental subscription registry (reference lifecycle API:
    new/insert/delete/compile, src/atree.rs:66-339).

    The DAG state — the ``(kind, a, b)`` -> slot map, use counts and
    flat node arrays — persists across mutations in a slot arena: a
    node whose use count reaches zero puts its slot on a free list, and
    the next new node takes the most recently freed slot, so the arena
    never grows past the live peak. ``nodes_created_total`` counts node
    creations over the builder's lifetime, reused slots included,
    letting tests pin that inserting k expressions into a live forest
    touches O(k·expr) nodes, never O(total).
    """

    def __init__(self, attributes: AttributeTable | list | tuple):
        if not isinstance(attributes, AttributeTable):
            attributes = AttributeTable(attributes)
        self.attributes = attributes
        # slot arena: a slot is live while its use count is above zero
        self._kind: list[int] = []
        self._left: list[int] = []                   # leaf: -1; else a child slot
        self._right: list[int] = []                  # leaf: -1; else a child slot
        self._level: list[int] = []
        self._use_count: list[int] = []
        self._predicate: list[Predicate | None] = []  # leaf's predicate
        self._free: list[int] = []                   # dead slots, reused LIFO
        self._node_by_key: dict[tuple, int] = {}     # key -> live slot
        self._sub_root: dict = {}                    # sub id -> slot
        self._forest: CompiledForest | None = None
        self.nodes_created_total = 0

    # ------------------------------------------------------------ public

    def sub_ids(self):
        """Live subscription ids (insert order preserved)."""
        return self._sub_root.keys()

    @property
    def live_node_count(self) -> int:
        """Live DAG nodes right now, without compiling — arena length
        minus free slots. This is the capacity variable sharding
        decisions key on (web/pipeline.py choose_shards), available
        during insert streams at zero cost."""
        return len(self._kind) - len(self._free)

    def insert(self, sub_id, expression: str | NnfNode) -> None:
        """Insert one expression in O(expression) (reference insert_root,
        src/atree.rs:110-181): shared subtrees hit the key map and stop
        the walk; only novel nodes take a slot, a freed one first. A
        re-insert under an existing sub id replaces it (delete+insert).
        A tree that is not in NNF (``parse()`` output without
        ``.optimize()``) is a TypeError, raised before the forest
        changes."""
        if isinstance(expression, str):
            expression = parse(expression, self.attributes).optimize()
        elif not isinstance(expression, NnfNode):
            raise TypeError(
                f"insert takes a DSL string or an NnfNode (call .optimize() "
                f"on a parsed tree), not {type(expression).__name__}"
            )
        if sub_id in self._sub_root:
            self.delete(sub_id)
        self._sub_root[sub_id] = self._insert_node(expression)
        self._forest = None

    def delete(self, sub_id) -> None:
        """Refcounted cascade delete (reference decrement_use_count,
        src/atree.rs:313-339,430-460): the node loses one reference; at
        zero its key is unregistered, its slot freed, and its children
        released recursively. Shared nodes — and nodes other
        subscriptions still use as roots — survive."""
        root = self._sub_root.pop(sub_id, None)
        if root is None:
            return
        self._release(root)
        self._forest = None

    def compile(self) -> CompiledForest:
        """Snapshot the live slots as a CompiledForest of int64 arrays,
        in numpy alone: a stable sort of the live slots by level gives
        each node its id (leaves first, children before parents; after
        inserts alone slot order is creation order), and one gather
        through that order remaps children and roots. Nothing of the
        builder changes but its cached snapshot, which is returned
        until the next insert/delete; the snapshot is independent of
        later mutations."""
        if self._forest is None:
            live = np.flatnonzero(np.array(self._use_count, dtype=np.int64))
            level = np.array(self._level, dtype=np.int64)[live]
            by_level = np.argsort(level, kind="stable")
            order = live[by_level]
            node_id = np.empty(len(self._kind), dtype=np.int64)
            node_id[order] = np.arange(len(order), dtype=np.int64)
            kind = np.array(self._kind, dtype=np.int64)[order]
            n_leaf = int(np.count_nonzero(kind == LEAF))
            left = np.array(self._left, dtype=np.int64)[order]
            right = np.array(self._right, dtype=np.int64)[order]
            left[n_leaf:] = node_id[left[n_leaf:]]
            right[n_leaf:] = node_id[right[n_leaf:]]
            left[:n_leaf] = np.arange(n_leaf, dtype=np.int64)
            sub_ids = list(self._sub_root)
            self._forest = CompiledForest(
                attributes=self.attributes,
                leaves=[self._predicate[s] for s in order[:n_leaf].tolist()],
                node_kind=kind,
                node_left=left,
                node_right=right,
                node_level=level[by_level],
                sub_ids=(
                    np.array(sub_ids) if sub_ids
                    else np.empty(0, dtype=np.int64)
                ),
                sub_roots=node_id[np.fromiter(
                    self._sub_root.values(), np.int64, len(sub_ids)
                )],
            )
        return self._forest

    # ---------------------------------------------------------- internals

    def _insert_node(self, node: NnfNode) -> int:
        """Returns the node's slot; children are inserted first, so a
        node's level is known when it takes its slot. Every call
        accounts exactly one incoming reference to the returned node —
        a shared hit increments its use count and stops (reference
        increment_use_count, src/atree.rs:184-190)."""
        if node.tag == "value":
            predicate = node.predicate
            kind, a, b = LEAF, -1, -1
            key = (LEAF, predicate.key(), -1)
        else:
            predicate = None
            a = self._insert_node(node.left)
            b = self._insert_node(node.right)
            if a > b:
                a, b = b, a
            kind = AND if node.tag == "and" else OR
            key = (kind, a, b)
        existing = self._node_by_key.get(key)
        if existing is not None:
            self._use_count[existing] += 1
            if kind != LEAF:
                # the children references this walk just took are
                # absorbed by the existing shared node: release them
                # again so the counts stay exactly "one per incoming edge"
                self._release(a)
                self._release(b)
            return existing
        level = 0 if kind == LEAF else 1 + max(self._level[a], self._level[b])
        if self._free:
            idx = self._free.pop()
            self._kind[idx] = kind
            self._left[idx] = a
            self._right[idx] = b
            self._level[idx] = level
            self._use_count[idx] = 1
            self._predicate[idx] = predicate
        else:
            idx = len(self._kind)
            self._kind.append(kind)
            self._left.append(a)
            self._right.append(b)
            self._level.append(level)
            self._use_count.append(1)
            self._predicate.append(predicate)
        self._node_by_key[key] = idx
        self.nodes_created_total += 1
        return idx

    def _release(self, idx: int) -> None:
        """Drop one reference; at zero unregister the key, free the
        slot and cascade into the children."""
        stack = [idx]
        while stack:
            i = stack.pop()
            self._use_count[i] -= 1
            if self._use_count[i] > 0:
                continue
            self._free.append(i)
            if self._kind[i] == LEAF:
                del self._node_by_key[(LEAF, self._predicate[i].key(), -1)]
            else:
                del self._node_by_key[(self._kind[i], self._left[i], self._right[i])]
                stack.append(self._left[i])
                stack.append(self._right[i])


def compile_forest(attributes: AttributeTable, expressions: dict) -> CompiledForest:
    """Batch form: expressions sub_id -> NnfNode (pre-optimized) or DSL
    string. One pass of incremental inserts — shared with the live path
    so both produce identical layouts for identical insert order."""
    builder = ForestBuilder(attributes)
    for sub_id, expression in expressions.items():
        builder.insert(sub_id, expression)
    return builder.compile()
