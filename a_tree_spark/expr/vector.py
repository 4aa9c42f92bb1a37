"""Vectorized forest evaluator over Arrow record batches.

This is the batch generalization of the reference's per-event search
(/root/reference/src/atree.rs:255-311) and bitset memo
(src/evaluation.rs:1-64): one packed TRUTH bitset per DAG node across a
batch of rows. In NNF, Kleene truth propagates monotonically — AND=min
and OR=max can never turn UNKNOWN into TRUE — so 'does this row match'
needs only TRUE-bits; the three-valued semantics live at the leaf layer
(null attr -> not TRUE) and in the single-row oracle used for parity
tests.

Execution strategy (SURVEY.md §4.8), measured on 32 concurrent workers:
- each distinct leaf is evaluated once per batch as a numpy bool column
  (the CSE payoff — reference shares node evaluations per event,
  src/lib.rs:72-75);
- every equality and membership leaf of an attribute (= / <> / in /
  not in of a scalar, whose scalar operand is a one-element literal
  set; one of / none of / all of / not all of of a list) sits in that
  attribute's one broadcast inverted index: each batch value
  occurrence pairs with exactly the leaves listing it, an all-of leaf
  counts its pairs per row against the row's list length, and each
  group writes one contiguous block of the leaf matrix in place — the
  vectorized analog of the reference's access-predicate work-list
  (src/atree.rs:530-591): a leaf costs the occurrences of its listed
  values, not a pass over every row, so no leaf is deferred and every
  forest runs one dense sweep. A grouped column, a scalar string or
  integer column or a list's flattened elements, codes once per batch
  into int64 vids of its group's typed Arrow value set by one
  ``pc.index_in`` (``_MemberGroup.vids``), so no value crosses into
  Python. Only null / empty checks, boolean leaves, range comparisons
  and FLOAT (= / <>) evaluate per leaf;
- the interior sweep runs on PACKED bits (np.packbits) level by level
  with fancy-indexed bitwise AND/OR into persistent reusable buffers:
  packing cut memory traffic 8x and buffer reuse removed an
  mmap/munmap storm (30-40% kernel time) — together they took the
  evaluator from 3x per-process cpu inflation at 32 workers
  (DRAM-saturated) to ~1.3x;
- rows are processed in adaptive chunks sized to a memory budget so
  working sets stay cache-resident.

Every caller hands the evaluator Arrow record batches: the matcher
(engine/matcher.py) its projected event columns, and the fused page
kernel (web/pipeline.py) one batch of the page attributes it derives.
Both go through ``evaluate_arrow_roots``, the one chunk loop and the one
column ingest (``arrow_columns``). The evaluator is the plan a Spark stage
broadcasts: it keeps what evaluation reads and ships no forest.
"""

from __future__ import annotations

import bisect
from decimal import Decimal
from fractions import Fraction
from itertools import chain

import numpy as np

from .ast import Op
from .compiler import AND, CompiledForest

FALSE, UNKNOWN, TRUE = np.uint8(0), np.uint8(1), np.uint8(2)

DECIMAL_SCALE = 6  # Float attrs are exact decimals at scale 6 (SURVEY §1.2)


def _true_mask(result: np.ndarray, null_mask: np.ndarray) -> np.ndarray:
    """TRUE-bit per row: UNKNOWN (null attr) can never contribute a
    match in NNF+Kleene, so the vectorized layer only tracks truth —
    the single-row oracle keeps full tri-state for parity tests."""
    if null_mask is not None and null_mask.any():
        return result & ~null_mask
    return np.asarray(result, dtype=bool)


class _ScalarColumn:
    """Null-separated numpy view of one scalar attribute column: the
    per-row null ``mask``; int64 or bool ``values`` for the leaves that
    compare values (None for a string column, which no such leaf
    reads); and ``vids``, the column coded into its attribute's member
    group value set (``_MemberGroup.vids``; None when no group reads
    the attribute). Strings never become Python or object-dtype values
    (profiled: object-dtype EQ/isin/map were the dense sweep's largest
    line items — guide §4.2, hand batches to vectorized kernels).
    """

    __slots__ = ("mask", "values", "vids")

    def __init__(self, mask: np.ndarray, values, vids=None):
        self.mask = mask
        self.values = values
        self.vids = vids


class _ListColumn:
    """Flattened once-per-batch representation of a list column, built
    from an Arrow ListArray's pieces (``BatchEvaluator.list_column``):
    per-row null ``mask`` and ``lengths``, and the elements aligned with
    ``row_ids``.

    Elements, string or integer, arrive only as int64 ``vids`` in the
    attribute's member-group value set (-1 = in no literal list, or
    null), so no element becomes a Python object or a float. ``vids``
    stays None when no leaf reads the elements."""

    __slots__ = ("mask", "lengths", "row_ids", "vids")

    def __init__(
        self, mask: np.ndarray, lengths: np.ndarray,
        vids: np.ndarray | None = None,
    ):
        self.mask = mask
        self.lengths = lengths
        self.row_ids = np.repeat(np.arange(len(mask), dtype=np.int64), lengths)
        self.vids = vids


def unsupported_column(kind, column_type: str) -> TypeError:
    """The error for an attribute column type the evaluator cannot read
    exactly, e.g. a float64 column for a FLOAT attribute; the matcher
    raises the same one at plan time."""
    return TypeError(
        f"{kind.value} attribute column of {column_type} is not supported "
        f"(FLOAT takes decimal or int64 fixed-point at scale {DECIMAL_SCALE})"
    )


def _scaled_int_from_decimal_literal(literal: Decimal) -> Fraction:
    return Fraction(literal) * 10**DECIMAL_SCALE


def _decimal_threshold(op: Op, literal: Decimal) -> tuple[Op, int]:
    """Convert an exact-decimal comparison into an equivalent int64
    comparison over scale-6 fixed-point values. Exact: the literal is
    converted through Fraction, never through binary floats."""
    import math

    frac = _scaled_int_from_decimal_literal(literal)
    if frac.denominator == 1:
        return op, int(frac)
    # literal is not representable at scale 6; adjust threshold
    if op is Op.LT:   # v < frac  <=>  v <= floor(frac)  <=> v < floor+1
        return Op.LT, math.floor(frac) + 1
    if op is Op.LE:   # v <= frac <=>  v <= floor(frac)
        return Op.LT, math.floor(frac) + 1
    if op is Op.GT:   # v > frac  <=>  v >= ceil(frac)
        return Op.GE, math.ceil(frac)
    if op is Op.GE:
        return Op.GE, math.ceil(frac)
    raise AssertionError(op)


#: the ops a member group takes, and its leaves' block order (see
#: _MemberGroup); a FLOAT (Decimal) = / <> stays a generic leaf
_GROUP_RANK = {
    Op.EQ: 0, Op.IN: 0, Op.ONE_OF: 0, Op.ALL_OF: 1,
    Op.NOT_ALL_OF: 2, Op.NE: 3, Op.NOT_IN: 3, Op.NONE_OF: 3,
}

_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1


class _MemberGroup:
    """Inverted index over the equality and membership leaves of one
    attribute: the ``=`` / ``<>`` / ``in`` / ``not in`` leaves of a
    scalar (an ``=`` / ``<>`` operand is a one-element literal list), or
    the ``one of`` / ``none of`` / ``all of`` / ``not all of`` leaves of
    a list. Every such leaf joins its attribute's group, however few.

    ``value_set``: the group's distinct literals as one typed Arrow
    array (string, or int64 for an integer attribute), in
    first-occurrence order, whose positions are the vids; CSR
    (vid_offsets, vid_leaves) maps each vid to the group-leaf positions
    whose literal list contains it. An integer literal outside int64 is
    left out: it can never equal a value. Evaluation gathers, for each
    batch value occurrence, one (leaf, row) pair per leaf that lists
    the value — the batch analog of the reference registering each
    predicate once in a global work-list and evaluating it once per
    event (src/atree.rs:558-591). An ``in`` /
    ``one of`` leaf is TRUE on the rows it has a pair for. An ``all of``
    leaf is TRUE where its pair count equals the row's list length:
    every element is a member. Pairs count once per element occurrence
    (a vid maps to a leaf at most once), so ``['a', 'a']`` is within
    ``all of ['a']``; an empty list has no elements and is TRUE, and a
    null element or one outside the value set has no pair, so it is
    never a member. The negated ops flip the result; a null row is
    never TRUE.

    ``leaf_idxs`` is in block order (``_GROUP_RANK``): plain (``=``,
    ``in``, ``one of``), subset, negated subset, negated plain (``<>``,
    ``not in``, ``none of``), so the subset leaves are positions
    [subset_lo, subset_hi) and the negated ones [negated_lo, n_leaves).
    The evaluator lays the group out as rows [row_lo, row_lo + n_leaves)
    of its leaf matrix, and the group writes that block in place.
    """

    __slots__ = (
        "attr_index", "is_list", "leaf_idxs", "value_set", "vid_offsets",
        "vid_leaves", "n_leaves", "subset_lo", "subset_hi", "negated_lo",
        "row_lo",
    )

    def __init__(self, forest, attr_index: int, ranked: list[tuple[int, int]]):
        """``ranked``: the group's (``_GROUP_RANK``, leaf index) pairs."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from .schema import AttributeKind

        ranks, self.leaf_idxs = map(list, zip(*sorted(ranked)))
        kind = forest.leaves[self.leaf_idxs[0]].attr_kind
        self.attr_index = attr_index
        self.is_list = kind.is_list
        self.n_leaves = len(self.leaf_idxs)
        self.subset_lo = bisect.bisect_left(ranks, 1)
        self.negated_lo = bisect.bisect_left(ranks, 2)
        self.subset_hi = bisect.bisect_left(ranks, 3)
        self.row_lo = 0  # set by the evaluator's leaf-row layout
        operands = [forest.leaves[i].operand for i in self.leaf_idxs]
        operands = [o if isinstance(o, tuple) else (o,) for o in operands]
        values = list(chain.from_iterable(operands))
        positions = np.repeat(
            np.arange(self.n_leaves, dtype=np.int64),
            [len(operand) for operand in operands],
        )
        if kind in (AttributeKind.STRING, AttributeKind.STRING_LIST):
            value_type = pa.string()
        else:
            value_type = pa.int64()
            fits = np.array(
                [_INT64_MIN <= v <= _INT64_MAX for v in values], dtype=bool
            )
            values = [v for v, ok in zip(values, fits) if ok]
            positions = positions[fits]
        encoded = pc.dictionary_encode(pa.array(values, type=value_type))
        self.value_set = encoded.dictionary
        # CSR by vid, leaves ascending (positions ascend already, and
        # Arrow's sort is stable); one entry per (vid, leaf) even for a
        # repeated literal: the subset count relies on it
        order = pc.array_sort_indices(encoded.indices).to_numpy()
        vids = encoded.indices.to_numpy().astype(np.int64)[order]
        positions = positions[order]
        keep = np.ones(len(vids), dtype=bool)
        keep[1:] = (vids[1:] != vids[:-1]) | (positions[1:] != positions[:-1])
        self.vid_leaves = positions[keep]
        self.vid_offsets = np.concatenate([
            [0], np.cumsum(np.bincount(vids[keep], minlength=len(self.value_set)))
        ])

    def vids(self, values) -> np.ndarray:
        """int64 vid of every value of an Arrow array in ``value_set``
        (-1 = in no literal list, or null): one ``pc.index_in``, for a
        scalar column and a list's flattened elements alike. An array
        typed otherwise than the set (an int32 or int16 column, a
        ``large_string`` one, a ``list<null>``'s elements) is cast to
        the set's type first."""
        import pyarrow.compute as pc

        if values.type != self.value_set.type:
            values = values.cast(self.value_set.type)
        return (
            pc.fill_null(
                pc.index_in(values, value_set=self.value_set, skip_nulls=True),
                -1,
            )
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )

    def evaluate_into(self, col, n: int, block: np.ndarray) -> None:
        """Write the group's TRUE bits for ``n`` rows of ``col`` into
        ``block``, its (n_leaves, n) row range of the leaf matrix. The
        block is C-contiguous, so its flat view takes the pairs as one
        1-D scatter."""
        if self.is_list:
            rows, lengths = col.row_ids, col.lengths
        else:
            rows, lengths = np.arange(n), None
        vids = col.vids
        block.fill(False)
        flat = block.reshape(-1)
        valid = vids >= 0
        pair_leaves, pair_rows = self._pairs(rows[valid], vids[valid])
        if self.subset_hi > self.subset_lo:
            in_subset = (pair_leaves >= self.subset_lo) & (pair_leaves < self.subset_hi)
            plain = ~in_subset
            flat[pair_leaves[plain] * n + pair_rows[plain]] = True
            self._mark_subsets(
                block, pair_leaves[in_subset], pair_rows[in_subset], lengths
            )
        else:
            flat[pair_leaves * n + pair_rows] = True
        negated = block[self.negated_lo:]
        np.logical_not(negated, out=negated)
        if col.mask.any():
            block[:, col.mask] = False  # UNKNOWN never matches

    def _pairs(
        self, occ_rows: np.ndarray, occ_vids: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """(group position, row) for every (occurrence, listing leaf)
        pair: a ragged gather through the vid -> leaves CSR."""
        starts = self.vid_offsets[occ_vids]
        counts = self.vid_offsets[occ_vids + 1] - starts
        total = int(counts.sum())
        offsets = np.repeat(starts, counts)
        within = np.arange(total) - np.repeat(
            np.cumsum(counts) - counts, counts
        )
        return self.vid_leaves[offsets + within], np.repeat(occ_rows, counts)

    def _mark_subsets(
        self, block: np.ndarray, leaves: np.ndarray, rows: np.ndarray,
        lengths: np.ndarray,
    ) -> None:
        """Set ``block`` TRUE where a subset leaf lists every element of
        the row: count the (leaf, row) pairs in O(pairs) by sorting
        their keys — no dense leaves x rows count — and compare each
        run's length with the row's list length. Rows are already
        ascending, so row-major keys arrive as sorted runs, which a
        stable sort merges. Empty lists are TRUE (null rows have length
        0 too; the caller masks them)."""
        n_leaves = self.n_leaves
        keys = np.sort(rows * n_leaves + leaves, kind="stable")
        if len(keys):
            first = np.empty(len(keys), dtype=bool)
            first[0] = True
            np.not_equal(keys[1:], keys[:-1], out=first[1:])
            starts = np.flatnonzero(first)
            counts = np.diff(starts, append=len(keys))
            row, leaf = np.divmod(keys[starts], n_leaves)
            full = counts == lengths[row]
            block[leaf[full], row[full]] = True
        empty = np.flatnonzero(lengths == 0)
        if len(empty):
            block[self.subset_lo:self.subset_hi, empty] = True


def adaptive_budget(num_nodes: int) -> int:
    """Sweep-buffer budget sized to the forest. After the
    level-contiguous layout + word-first decode, per-row sweep cost is
    nearly FLAT in chunk size (measured 14.8-23.6 µs/row from 2k to 16k
    rows at 1e5 subscriptions) — what still hurts is a budget-derived
    chunk SMALLER than the Arrow batch: a 4096-row batch split as
    3474 + 622 pays the per-chunk fixed costs twice, once on a tiny
    tail. num_nodes * 1792 bytes keeps the chunk ceiling (14,336 rows)
    above any realistic Arrow batch at every forest size; floor 16 MB
    keeps small forests on the round-1-tuned setting, cap 96 MB bounds
    worker RSS (32 workers/box)."""
    return max(16 << 20, min(96 << 20, num_nodes * 1792))


class BatchEvaluator:
    """Evaluates a CompiledForest over Arrow record batches.

    The evaluator is the picklable plan that ships to executors by
    broadcast; all heavy work happens in numpy on Arrow-backed columns.
    It keeps only what evaluation reads, not the forest it was planned
    from: the leaf and node counts, the member groups' indexes, the
    generic leaves' predicates, the columns it ingests, and the sweep
    and root layouts. The per-process sweep buffers are left out of the
    pickle, so a plan pickles to the same bytes before and after it
    evaluates a batch.
    """

    def __init__(self, forest: CompiledForest):
        self.n_leaves = len(forest.leaves)
        self.num_nodes = forest.num_nodes
        self.memory_budget = adaptive_budget(self.num_nodes)
        leaf_row = self._plan_leaf_groups(forest)
        self._plan_columns(forest)
        perm = self._plan_levels(forest, leaf_row)
        self._plan_subscribers(forest, perm)

    def __getstate__(self) -> dict:
        state = self.__dict__.copy()
        state.pop("_buf_cache", None)  # per-process, rebuilt on demand
        return state

    # ------------------------------------------------------------ planning

    def _plan_leaf_groups(self, forest: CompiledForest) -> np.ndarray:
        """Group the equality and membership leaves per attribute for
        one-shot evaluation: every ``=`` / ``<>`` / ``in`` / ``not in``
        leaf of a scalar, and every ``one of`` / ``none of`` /
        ``all of`` / ``not all of`` leaf of a list, joins its
        attribute's broadcast *inverted index* (literal value -> leaf
        ids, ``_MemberGroup``), whatever the group's size: each value
        occurrence in the batch pairs with exactly the leaves that list
        it, so work is O(occurrences x leaves-per-value) instead of
        O(leaves x rows); ALL_OF counts those pairs per (leaf, row).
        This is the vectorized restatement of the reference's global
        predicate work-list / access-predicate pass
        (src/atree.rs:530-591): where the reference defers a costly
        predicate until a cheap sibling fired, the index never reads a
        leaf's literal list on a row holding none of its values.

        Every other leaf — null / empty checks, boolean leaves, range
        comparisons and FLOAT ``=`` / ``<>`` — evaluates per leaf,
        still vectorized per batch, on every row. The plan keeps these
        leaves' predicates (``generic_leaves``), and no predicate of a
        grouped leaf.

        Returns the leaf-matrix row of each leaf index.
        """
        member_groups: dict[int, list[tuple[int, int]]] = {}
        generic: list[int] = []
        for leaf_idx, leaf in enumerate(forest.leaves):
            rank = _GROUP_RANK.get(leaf.op)
            if rank is not None and not isinstance(leaf.operand, Decimal):
                member_groups.setdefault(leaf.attr_index, []).append(
                    (rank, leaf_idx)
                )
            else:
                generic.append(leaf_idx)
        self.member_groups = [
            _MemberGroup(forest, attr_index, ranked)
            for attr_index, ranked in member_groups.items()
        ]
        self.generic_leaves = [forest.leaves[i] for i in generic]
        # arrow_columns codes a grouped attribute's column into its
        # group's value set
        self._group_of = {g.attr_index: g for g in self.member_groups}
        # leaf-row layout of the per-batch leaf matrix: each member
        # group's leaves take one contiguous block of rows, in the
        # group's own order, so a group writes its block in place (no
        # per-group matrix, no copy); the generic leaves follow, in leaf
        # order.
        order: list[int] = []
        for group in self.member_groups:
            group.row_lo = len(order)
            order.extend(group.leaf_idxs)
        order.extend(generic)
        leaf_row = np.empty(len(order), dtype=np.int64)
        leaf_row[np.asarray(order, dtype=np.int64)] = np.arange(
            len(order), dtype=np.int64
        )
        return leaf_row

    def _plan_columns(self, forest: CompiledForest) -> None:
        """The (attr_index, name, kind) of every attribute a leaf reads,
        in attribute order: the columns ``arrow_columns`` ingests (column
        pruning at the Python layer too)."""
        attributes = forest.attributes
        self.columns = [
            (i, attributes.definition(i).name, attributes.definition(i).kind)
            for i in sorted({leaf.attr_index for leaf in forest.leaves})
        ]

    def _plan_levels(
        self, forest: CompiledForest, leaf_row: np.ndarray
    ) -> np.ndarray:
        """Level-contiguous node layout: the evaluator renumbers nodes
        (``perm``: forest id -> sweep slot) so that the leaf-node block
        and every (height, kind) level group occupy CONTIGUOUS slots in
        the ``values`` buffer, roots-first within each block. Pay-off at
        1e5 subscriptions (the sweep is DRAM-bound at 32 workers):

        - level results write via ``out=values[lo:hi]`` — the fancy
          scatter (read+write of the whole level) disappears, ~2 of ~9
          byte-ops per node-byte;
        - roots form one contiguous segment per block, so root decode
          scans ``values`` slices DIRECTLY — the (n_roots x nb) gather
          into a separate matched buffer (2 x 41 MB per 14k-row chunk at
          1e5 subs) disappears entirely.

        The slot order is one ``np.lexsort`` by (level, kind, not root,
        forest id): leaves are level 0 and kind 0, so their block comes
        first, and the sort is stable, so ties keep forest-id order. The
        blocks are the runs of equal (level, kind), and each block's
        children are one gather through ``perm``. Root ids in the fused
        kernel's partials, and the n_subs the kernel reads for them from
        ``root_sub_counts``, index this order, from the one plan per
        snapshot (planned_evaluator).

        Returns ``perm``."""
        n = forest.num_nodes
        is_root = np.zeros(n, dtype=bool)
        is_root[forest.sub_roots] = True
        order = np.lexsort((~is_root, forest.node_kind, forest.node_level))
        perm = np.empty(n, dtype=np.int64)
        perm[order] = np.arange(n, dtype=np.int64)

        level, kind = forest.node_level[order], forest.node_kind[order]
        cut = np.flatnonzero(
            (level[1:] != level[:-1]) | (kind[1:] != kind[:-1])
        ) + 1
        starts, ends = np.r_[0, cut], np.r_[cut, n]
        roots_before = np.r_[0, np.cumsum(is_root[order])]
        n_roots = roots_before[ends] - roots_before[starts]
        self.root_segments = [
            (lo, k) for lo, k in zip(starts.tolist(), n_roots.tolist()) if k
        ]

        # the first block is the leaves' (empty only in an empty forest)
        n_leaf = self.n_leaf_nodes = int(ends[0])
        # leaf-matrix row of each leaf node (_plan_leaf_groups layout)
        self.leaf_of_node = leaf_row[forest.node_left[order[:n_leaf]]]
        interior = order[n_leaf:]
        left = perm[forest.node_left[interior]]
        right = perm[forest.node_right[interior]]
        self.levels: list[tuple[int, int, int, np.ndarray, np.ndarray]] = [
            (int(kind[lo]), lo, hi, left[lo - n_leaf : hi - n_leaf],
             right[lo - n_leaf : hi - n_leaf])
            for lo, hi in zip(starts[1:].tolist(), ends[1:].tolist())
        ]
        return perm

    def _plan_subscribers(self, forest: CompiledForest, perm: np.ndarray) -> None:
        """CSR of DISTINCT expression roots -> subscriber ids. CSE means
        many subscriptions share one root (4.3x on the templated 100k
        workload), so match decode runs per distinct root and expands to
        sub ids afterwards — round 1 gathered and bit-decoded one node
        row PER SUBSCRIPTION, which was the single largest cost at 100k
        subs (~45% of the evaluation). Roots follow the sweep slot order
        from _plan_levels, so decode segments index straight into this
        CSR; a stable argsort keeps each root's subscribers in insertion
        order."""
        slot = perm[forest.sub_roots]
        by_slot = np.argsort(slot, kind="stable")
        self.root_nodes, self.root_sub_counts = np.unique(slot, return_counts=True)
        self.root_sub_offsets = np.r_[0, np.cumsum(self.root_sub_counts)].astype(
            np.int64
        )
        self.root_sub_ids = forest.sub_ids[by_slot]
        # flat per-subscription view (public: matcher sizing, tests)
        self.sub_ids = self.root_sub_ids

    # ------------------------------------------------------------ columns

    def arrow_columns(self, batch) -> dict[int, object]:
        """Prepared column cache straight from an Arrow RecordBatch, for
        the attributes the forest actually touches (``columns``). List
        attributes build through ``list_column``, scalars through
        ``_scalar_from_arrow``; a grouped scalar column is coded into
        its group's value set like a list's elements."""
        cache: dict[int, object] = {}
        for attr_index, name, kind in self.columns:
            arr = batch.column(batch.schema.get_field_index(name))
            group = self._group_of.get(attr_index)
            if kind.is_list:
                cache[attr_index] = self.list_column(arr, group)
                continue
            col = cache[attr_index] = self._scalar_from_arrow(arr, kind)
            if group is not None:
                col.vids = group.vids(arr)
        return cache

    @staticmethod
    def list_column(arr, group: _MemberGroup | None) -> _ListColumn:
        """Prepared list column from an Arrow ListArray's offsets and
        flattened values — the list-encoding path of ``arrow_columns``.

        Elements code ONCE per batch, in Arrow, into the attribute's
        member-group vids (``_MemberGroup.vids``; -1 = in no literal
        list, or a null element, which is never a member), and no
        element becomes a Python object: converting even a batch's
        unique tokens to Python was most of the encoding cost. With no
        group (only is empty / is not empty leaves), the elements are
        not read."""
        import pyarrow.compute as pc

        mask = pc.is_null(arr).to_numpy(zero_copy_only=False)
        lengths = (
            pc.fill_null(pc.list_value_length(arr), 0)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        if group is None:
            return _ListColumn(mask, lengths)  # no leaf reads the elements
        return _ListColumn(mask, lengths, group.vids(pc.list_flatten(arr)))

    def _scalar_from_arrow(self, arr, kind) -> _ScalarColumn:
        import pyarrow as pa
        import pyarrow.compute as pc

        from .schema import AttributeKind

        mask = pc.is_null(arr).to_numpy(zero_copy_only=False)
        if kind is AttributeKind.STRING:
            return _ScalarColumn(mask, None)  # only vids read a string
        if kind is AttributeKind.BOOLEAN and pa.types.is_boolean(arr.type):
            values = (
                pc.fill_null(arr, False)
                .to_numpy(zero_copy_only=False)
                .astype(bool)
            )
            return _ScalarColumn(mask, values)
        if pa.types.is_integer(arr.type):
            # INTEGER attrs, and FLOAT attrs the matcher pre-scaled to
            # int64 fixed-point JVM-side (engine/matcher.py)
            values = (
                pc.fill_null(arr, 0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            return _ScalarColumn(mask, values)
        if kind is AttributeKind.FLOAT and pa.types.is_decimal(arr.type):
            # exact decimals -> int64 fixed-point at scale 6, rounding
            # ties away from zero like ROUND_HALF_UP in normalize_event
            # and Spark's decimal(28,6) cast (Arrow's "half_up" rounds
            # ties toward +inf, which differs on negative ties)
            rounded = pc.round(
                arr, ndigits=DECIMAL_SCALE, round_mode="half_towards_infinity"
            )
            scaled = pc.multiply(
                pc.cast(rounded, pa.decimal128(30, DECIMAL_SCALE)),
                pa.scalar(Decimal(10**DECIMAL_SCALE), pa.decimal128(7, 0)),
            )
            values = (
                pc.fill_null(pc.cast(scaled, pa.int64()), 0)
                .to_numpy(zero_copy_only=False)
            )
            return _ScalarColumn(mask, values)
        raise unsupported_column(kind, f"Arrow type {arr.type}")

    def evaluate_arrow_roots(self, batch) -> tuple[np.ndarray, np.ndarray]:
        """(row_positions, root_index) pairs of one RecordBatch holding
        the forest's attribute columns (see ``evaluate_prepared_roots``).
        Rows are chunked to the memory budget via zero-copy
        ``batch.slice`` (pc kernels honor slice offsets)."""
        n_total = batch.num_rows
        if n_total == 0 or len(self.root_nodes) == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        chunk = self._chunk_rows(n_total)
        out_rows: list[np.ndarray] = []
        out_roots: list[np.ndarray] = []
        for start in range(0, n_total, chunk):
            piece = batch.slice(start, min(chunk, n_total - start))
            rows, roots = self.evaluate_prepared_roots(
                self.arrow_columns(piece), piece.num_rows
            )
            out_rows.append(rows + start)
            out_roots.append(roots)
        return np.concatenate(out_rows), np.concatenate(out_roots)

    def evaluate_arrow(self, batch) -> tuple[np.ndarray, np.ndarray]:
        """(row_positions, sub_ids): one pair per (row, matching
        subscription) of one RecordBatch."""
        return self.expand_roots(*self.evaluate_arrow_roots(batch))

    # ------------------------------------------------------------ leaves

    @staticmethod
    def _eval_generic_leaf(leaf, col, n: int) -> np.ndarray:
        """One leaf outside every member group: a null or empty check, a
        boolean leaf, a range comparison, or a FLOAT ``=`` / ``<>``."""
        op = leaf.op
        operand = leaf.operand

        if op in (Op.IS_NULL, Op.IS_NOT_NULL):
            return col.mask.copy() if op is Op.IS_NULL else ~col.mask
        if op in (Op.IS_EMPTY, Op.IS_NOT_EMPTY):
            empty = col.lengths == 0
            result = empty if op is Op.IS_EMPTY else ~empty
            return _true_mask(result, col.mask)

        if op is Op.VAR:
            return _true_mask(col.values, col.mask)
        if op is Op.NVAR:
            return _true_mask(~col.values, col.mask)

        values = col.values
        if op in (Op.EQ, Op.NE):  # a Decimal literal vs scale-6 values
            frac = _scaled_int_from_decimal_literal(operand)
            if frac.denominator != 1:
                result = np.zeros(n, dtype=bool)
            else:
                result = values == int(frac)
            return _true_mask(result if op is Op.EQ else ~result, col.mask)
        if isinstance(operand, Decimal):
            op, operand = _decimal_threshold(op, operand)
        if op is Op.LT:
            result = values < operand
        elif op is Op.LE:
            result = values <= operand
        elif op is Op.GT:
            result = values > operand
        else:
            result = values >= operand
        return _true_mask(result, col.mask)

    def _eval_leaves(self, cache: dict, n: int) -> np.ndarray:
        """(n_leaves, n) TRUE matrix in leaf-row order: the member
        groups' blocks, then the generic leaves (``_plan_leaf_groups``)."""
        leaf_values = np.empty((self.n_leaves, n), dtype=bool)

        for group in self.member_groups:
            group.evaluate_into(
                cache[group.attr_index], n,
                leaf_values[group.row_lo : group.row_lo + group.n_leaves],
            )

        first = self.n_leaves - len(self.generic_leaves)
        for row, leaf in enumerate(self.generic_leaves, start=first):
            leaf_values[row] = self._eval_generic_leaf(
                leaf, cache[leaf.attr_index], n
            )
        return leaf_values

    # ------------------------------------------------------------ sweep

    def _chunk_rows(self, n_rows: int) -> int:
        nodes = max(1, self.num_nodes)
        # packed sweep: nodes x n/8 bytes per buffer
        chunk = (self.memory_budget * 8) // nodes
        return int(max(1024, min(32768, chunk, max(n_rows, 1))))

    def _buffers(self, nb: int):
        """Persistent per-chunk-size work buffers (nb = packed bytes per
        node row). Without reuse, every level op allocates+frees a
        multi-MB temp, which glibc serves via mmap/munmap — measured
        30-40% kernel time across 32 workers from page faulting alone.
        Leading-axis slices stay C-contiguous, so np.take writes into
        them directly."""
        cached = getattr(self, "_buf_cache", None)
        if cached is None:
            cached = self._buf_cache = {}
        bufs = cached.get(nb)
        if bufs is None:
            if len(cached) > 4:
                cached.clear()
            nn = max(self.num_nodes, 1)
            widest = max(
                (hi - lo for _, lo, hi, _, _ in self.levels),
                default=1,
            )
            widest = max(widest, self.n_leaf_nodes, 1)
            bufs = cached[nb] = (
                np.empty((nn, nb), dtype=np.uint8),       # packed node truth bits
                np.empty((widest, nb), dtype=np.uint8),   # left gather
                np.empty((widest, nb), dtype=np.uint8),   # right gather
            )
        return bufs

    def evaluate_prepared_roots(
        self, cache: dict[int, object], n: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Root-level matches: (row_positions, root_index) pairs, where
        root_index indexes ``root_nodes``/``root_sub_counts``, from a
        prepared column cache (attr_index -> scalar/list column,
        ``arrow_columns``) of n rows; ``evaluate_arrow_roots`` chunks
        a batch to a cache-friendly n (see _chunk_rows). Decoding
        per DISTINCT root (not per subscription) makes the gather +
        nonzero + unpack proportional to the CSE-deduped forest, and
        lets aggregation kernels combine counts BEFORE the root->sub
        expansion (the expansion is a pure multiplicity joint —
        ``expand_roots`` — or a tiny broadcast join on the Spark side).

        The interior sweep runs on PACKED truth bitsets (1 bit/row, the
        batch form of the reference's bitset memo, src/evaluation.rs):
        in NNF, Kleene TRUE propagates monotonically — AND=min and
        OR=max can never turn UNKNOWN into TRUE — so 'is the node TRUE'
        is closed under plain bitwise AND/OR of TRUE-bits. Tri-state
        codes exist only at the leaf layer (null semantics); packing
        cuts sweep memory traffic 8x, which is the binding resource at
        32 concurrent workers (measured 3x per-process cpu inflation
        from DRAM saturation with byte-wide sweeps)."""
        leaf_values = self._eval_leaves(cache, n)

        nb = self._packed_width(n)
        values, gather_a, gather_b = self._buffers(nb)

        # leaf truth bits (leaf layer already collapses UNKNOWN to 0)
        leaf_bits = self._pack_padded(leaf_values, nb)
        self._sweep(values, gather_a, gather_b, leaf_bits)
        return self._decode_roots(values, n)

    @staticmethod
    def _packed_width(n: int) -> int:
        """Packed bytes per node row, rounded up to a multiple of 8 so
        the decode can scan the root block as uint64 words (zero pad
        bytes are preserved by AND/OR, so the rounding is free)."""
        return ((n + 63) // 64) * 8

    @staticmethod
    def _pack_padded(leaf_values: np.ndarray, nb: int) -> np.ndarray:
        packed = np.packbits(leaf_values, axis=1, bitorder="little")
        if packed.shape[1] == nb:
            return packed
        out = np.zeros((packed.shape[0], nb), dtype=np.uint8)
        out[:, : packed.shape[1]] = packed
        return out

    def _sweep(self, values, gather_a, gather_b, leaf_bits) -> None:
        """Bottom-up packed truth propagation over the DAG levels.
        Level-contiguous layout: each level's result lands via
        ``out=values[lo:hi]`` — no fancy scatter, and leaf bits gather
        straight into the leaf block slice."""
        np.take(leaf_bits, self.leaf_of_node, axis=0,
                out=values[: self.n_leaf_nodes])

        for kind, lo, hi, left, right in self.levels:
            k = hi - lo
            a = gather_a[:k]
            b = gather_b[:k]
            np.take(values, left, axis=0, out=a)
            np.take(values, right, axis=0, out=b)
            if kind == AND:
                np.bitwise_and(a, b, out=values[lo:hi])
            else:
                np.bitwise_or(a, b, out=values[lo:hi])

    def _decode_roots(self, values, n: int) -> tuple[np.ndarray, np.ndarray]:
        """Decode (row, root_index) pairs straight from the values
        buffer: roots are contiguous segments (roots-first block layout,
        _plan_levels), so no gather into a separate matched matrix. Each
        segment scans word-first as uint64 (8x fewer scan elements —
        measured 3.6x faster than a 2D byte nonzero, the decode hot loop
        at 1e5 subscriptions), expands only hit words to bytes, and
        unpacks only nonzero bytes."""
        nb = values.shape[1]
        eight = np.arange(8, dtype=np.int64)
        out_rows: list[np.ndarray] = []
        out_roots: list[np.ndarray] = []
        root_base = 0
        for lo, k in self.root_segments:
            flat = values[lo : lo + k].reshape(-1)
            word_idx = np.flatnonzero(flat.view(np.uint64))
            if len(word_idx):
                cand = ((word_idx[:, None] << 3) + eight).ravel()
                sel = flat[cand]
                hit = sel != 0
                byte_idx = cand[hit]
                sel = sel[hit]
                local_root = byte_idx // nb
                byte_pos = byte_idx - local_root * nb
                bits = np.unpackbits(
                    sel[:, None], axis=1, bitorder="little"
                ).astype(bool)
                pair_idx, bit_idx = np.nonzero(bits)
                row_pos = byte_pos[pair_idx] * 8 + bit_idx
                keep = row_pos < n  # strip pad bits of the last partial byte
                out_rows.append(row_pos[keep].astype(np.int64))
                out_roots.append(
                    (local_root[pair_idx][keep] + root_base).astype(np.int64)
                )
            root_base += k
        if not out_rows:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        return np.concatenate(out_rows), np.concatenate(out_roots)

    def expand_roots(
        self, rows: np.ndarray, root_idx: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """(row, root) pairs -> (row, sub_id) pairs via the root CSR."""
        if len(rows) == 0:
            return rows, self.sub_ids[:0]
        counts = self.root_sub_counts[root_idx]
        out_rows = np.repeat(rows, counts)
        starts = self.root_sub_offsets[root_idx]
        total = int(counts.sum())
        offsets = np.repeat(starts, counts)
        within = np.arange(total, dtype=np.int64) - np.repeat(
            np.concatenate([[0], np.cumsum(counts)[:-1]]), counts
        )
        return out_rows, self.root_sub_ids[offsets + within]


def planned_evaluator(forest: CompiledForest) -> BatchEvaluator:
    """The BatchEvaluator planned for this compiled snapshot, planned
    once and kept on the snapshot. ``ForestBuilder.compile()`` returns
    the same CompiledForest until the next insert/delete, so every
    consumer of one crawl step (root map, fused kernel, matcher, shard
    root counts, the stage fingerprint) shares one plan per shard
    instead of re-planning the same snapshot.

    The plan is shared, and a Spark stage broadcasts it as it is
    (engine.matcher.broadcast_evaluator): it has no per-caller setting,
    and it ships no forest."""
    if forest._plan is None:
        forest._plan = BatchEvaluator(forest)
    return forest._plan
