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
  (src/lib.rs:72-75).
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
identified by ``(kind, a, b)``: ``(LEAF, leaf index, -1)`` for a leaf and
``(AND|OR, min child, max child)`` by node index for an interior node —
plain hash-consing, commutative by construction, with no hash to collide.
Child order carries no meaning: the packed sweep, ``evaluate_event`` and
the generated SQL read both children symmetrically and never
short-circuit.

Insert/delete are INCREMENTAL (reference src/atree.rs:96-245 insert,
:313-339,430-460 refcounted delete): the key -> node map, the refcounts,
and the flat arrays live across mutations in ``ForestBuilder``. Insert
walks only the new expression (shared subtrees hit the key map and
stop); delete decrements use counts and tombstones nodes that reach zero,
cascading into children exactly like the reference's
``decrement_use_count``. Each fact is stored once: a node is live while
its use count is above zero, its key is read back from the kind and
child arrays, and a subscription's root is ``_sub_root`` alone (the
root -> subscribers grouping is the planner's argsort).
``compile()`` then snapshots the arrays as numpy — after inserts that
is one copy per array, after deletes a numpy index compaction first —
so a churning subscription set pays O(changed expression)
per mutation instead of the O(total) reparse of a cold ``compile_forest``
(~0.8 s at 1e5 subscriptions; the snapshot is ~ms).
"""

from __future__ import annotations

from dataclasses import dataclass

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
    node_left: np.ndarray         # leaf: index into leaves; and/or: lower child idx
    node_right: np.ndarray        # leaf: -1; and/or: higher child idx
    node_level: np.ndarray        # leaf: 0; interior: 1 + max(children)
    sub_ids: np.ndarray           # live subscription ids, insertion order
    sub_roots: np.ndarray         # int64 root node of each sub_ids entry

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

    The DAG state — interned leaves, the ``(kind, a, b)`` -> node map,
    refcounts, flat node arrays — persists across mutations. A node
    with a use count of zero is a tombstone until the next compaction.
    ``nodes_created_total`` counts arena appends over the builder's
    lifetime, letting tests pin that inserting k expressions into a live
    forest touches O(k·expr) nodes, never O(total).
    """

    def __init__(self, attributes: AttributeTable | list | tuple):
        if not isinstance(attributes, AttributeTable):
            attributes = AttributeTable(attributes)
        self.attributes = attributes
        # interned unique predicates (leaf evaluation units)
        self._leaves: list[Predicate] = []
        self._leaf_index: dict[tuple, int] = {}      # predicate key -> leaf idx
        # flat node arena, append-only between compactions
        self._kind: list[int] = []
        self._left: list[int] = []
        self._right: list[int] = []
        self._level: list[int] = []
        self._use_count: list[int] = []              # live while > 0
        self._node_by_key: dict[tuple, int] = {}     # key -> live node idx
        self._sub_root: dict = {}                    # sub id -> node idx
        self._n_dead = 0
        self._forest: CompiledForest | None = None
        self.nodes_created_total = 0

    # ------------------------------------------------------------ public

    def sub_ids(self):
        """Live subscription ids (insert order preserved)."""
        return self._sub_root.keys()

    @property
    def live_node_count(self) -> int:
        """Live DAG nodes right now, without compiling — arena length
        minus tombstones. This is the capacity variable sharding
        decisions key on (web/pipeline.py choose_shards), available
        during insert streams at zero cost."""
        return len(self._kind) - self._n_dead

    def insert(self, sub_id, expression: str | NnfNode) -> None:
        """Insert one expression in O(expression) (reference insert_root,
        src/atree.rs:110-181): shared subtrees hit the key map and stop
        the walk; only novel nodes append to the arena. A re-insert under
        an existing sub id replaces it (delete+insert). A tree that is
        not in NNF (``parse()`` output without ``.optimize()``) is a
        TypeError, raised before the forest changes."""
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
        zero it is tombstoned, its key unregistered, and its children
        released recursively. Shared nodes — and nodes other
        subscriptions still use as roots — survive."""
        root_idx = self._sub_root.pop(sub_id, None)
        if root_idx is None:
            return
        self._release(root_idx)
        self._forest = None

    def compile(self) -> CompiledForest:
        """Snapshot the live arena as a CompiledForest of int64 arrays.
        After inserts this is one array copy per field (~ms at 1e5
        nodes); pending tombstones first compact via numpy index remaps
        — still array work, never a reparse. The snapshot is
        independent of later mutations."""
        if self._forest is None:
            if self._n_dead:
                self._compact()
            sub_ids = list(self._sub_root)
            self._forest = CompiledForest(
                attributes=self.attributes,
                leaves=list(self._leaves),
                node_kind=np.array(self._kind, dtype=np.int64),
                node_left=np.array(self._left, dtype=np.int64),
                node_right=np.array(self._right, dtype=np.int64),
                node_level=np.array(self._level, dtype=np.int64),
                sub_ids=(
                    np.array(sub_ids) if sub_ids
                    else np.empty(0, dtype=np.int64)
                ),
                sub_roots=np.fromiter(
                    self._sub_root.values(), np.int64, len(sub_ids)
                ),
            )
        return self._forest

    # ---------------------------------------------------------- internals

    def _intern_leaf(self, predicate: Predicate) -> int:
        key = predicate.key()
        idx = self._leaf_index.get(key)
        if idx is None:
            idx = len(self._leaves)
            self._leaf_index[key] = idx
            self._leaves.append(predicate)
        return idx

    def _insert_node(self, node: NnfNode) -> int:
        """Returns the node's index; children-first recursion keeps
        topological order (children always at lower indexes, so
        snapshots and compactions stay topologically sorted). Every call
        accounts exactly one incoming reference to the returned node —
        a shared hit increments its use count and stops (reference
        increment_use_count, src/atree.rs:184-190)."""
        if node.tag == "value":
            kind, a, b = LEAF, self._intern_leaf(node.predicate), -1
        else:
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
        idx = len(self._kind)
        self._kind.append(kind)
        self._left.append(a)
        self._right.append(b)
        self._level.append(
            0 if kind == LEAF else 1 + max(self._level[a], self._level[b])
        )
        self._use_count.append(1)
        self._node_by_key[key] = idx
        self.nodes_created_total += 1
        return idx

    def _release(self, idx: int) -> None:
        """Drop one reference; tombstone + cascade at zero."""
        stack = [idx]
        while stack:
            i = stack.pop()
            self._use_count[i] -= 1
            if self._use_count[i] > 0:
                continue
            self._n_dead += 1
            del self._node_by_key[(self._kind[i], self._left[i], self._right[i])]
            if self._kind[i] != LEAF:
                stack.append(self._left[i])
                stack.append(self._right[i])

    def _compact(self) -> None:
        """Squeeze tombstones out of the arena with numpy index remaps
        (relative order — hence topological order, and each interior
        node's child order — is preserved). Unreferenced leaf predicates
        drop from ``leaves`` too, so the per-batch leaf evaluation never
        pays for deleted expressions. A node is live while its use
        count is above zero."""
        use_arr = np.asarray(self._use_count, dtype=np.int64)
        alive = use_arr > 0
        new_idx = np.cumsum(alive, dtype=np.int64) - 1   # old -> new (alive only)
        keep = np.flatnonzero(alive)

        kind_arr = np.asarray(self._kind, dtype=np.int64)[keep]
        left_arr = np.asarray(self._left, dtype=np.int64)[keep]
        right_arr = np.asarray(self._right, dtype=np.int64)[keep]
        is_leaf = kind_arr == LEAF

        # surviving leaf predicates, in first-use order
        order = np.sort(left_arr[is_leaf])
        leaf_remap = np.full(len(self._leaves), -1, dtype=np.int64)
        leaf_remap[order] = np.arange(len(order), dtype=np.int64)

        left_arr[is_leaf] = leaf_remap[left_arr[is_leaf]]
        left_arr[~is_leaf] = new_idx[left_arr[~is_leaf]]
        right_arr[~is_leaf] = new_idx[right_arr[~is_leaf]]

        self._kind = kind_arr.tolist()
        self._left = left_arr.tolist()
        self._right = right_arr.tolist()
        self._level = np.asarray(self._level, dtype=np.int64)[keep].tolist()
        self._use_count = use_arr[keep].tolist()
        self._node_by_key = {
            k: i for i, k in enumerate(zip(self._kind, self._left, self._right))
        }
        remap = new_idx.tolist()
        self._sub_root = {s: remap[i] for s, i in self._sub_root.items()}
        self._leaves = [self._leaves[i] for i in order.tolist()]
        leaf_remap = leaf_remap.tolist()
        self._leaf_index = {
            key: leaf_remap[i] for key, i in self._leaf_index.items()
            if leaf_remap[i] >= 0
        }
        self._n_dead = 0


def compile_forest(attributes: AttributeTable, expressions: dict) -> CompiledForest:
    """Batch form: expressions sub_id -> NnfNode (pre-optimized) or DSL
    string. One pass of incremental inserts — shared with the live path
    so both produce identical layouts for identical insert order."""
    builder = ForestBuilder(attributes)
    for sub_id, expression in expressions.items():
        builder.insert(sub_id, expression)
    return builder.compile()
