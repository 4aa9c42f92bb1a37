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
- membership leaves per attribute (in / not in of a scalar; one of /
  none of / all of / not all of of a list) share one broadcast inverted
  index: each batch value occurrence pairs with exactly the leaves
  listing it, an all-of leaf counts its pairs per row against the
  row's list length, and each group writes one contiguous block of
  the leaf matrix in place — the vectorized analog of the reference's
  access-predicate work-list (src/atree.rs:530-591). Grouped leaves are
  never lazy, so a forest whose list leaves all group (crawl_skewed)
  runs one dense sweep. Strings encode once per batch, in Arrow, as
  int64 codes: scalar
  strings by per-batch dictionary (only unique strings cross into
  Python), list elements into the forest's literal vocabulary
  (BatchEvaluator.list_column: none cross);
- equality leaves per attribute evaluate as one searchsorted + scatter;
- list attributes flatten once per batch (flat values + row ids) so
  every leaf over them is one vectorized membership + segmented
  reduction — no per-row Python;
- the interior sweep runs on PACKED bits (np.packbits) level by level
  with fancy-indexed bitwise AND/OR into persistent reusable buffers:
  packing cut memory traffic 8x and buffer reuse removed an
  mmap/munmap storm (30-40% kernel time) — together they took the
  evaluator from 3x per-process cpu inflation at 32 workers
  (DRAM-saturated) to ~1.3x;
- with access pruning, the downward candidate pass ORs parent rows
  as uint64 words (the packed rows are padded to whole words), eight
  times fewer reduceat elements than the byte form;
- rows are processed in adaptive chunks sized to a memory budget so
  working sets stay cache-resident.

Every caller hands the evaluator Arrow record batches: the matcher
(engine/matcher.py) its projected event columns, and the fused page
kernel (web/pipeline.py) one batch of the page attributes it derives.
Both go through ``evaluate_arrow_roots``, the one chunk loop and the one
column ingest (``arrow_columns``).
"""

from __future__ import annotations

import bisect
from decimal import Decimal
from fractions import Fraction

import numpy as np

from .ast import Op
from .compiler import AND, LEAF, CompiledForest

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
    """Null-separated numpy view of one scalar attribute column.

    Non-string columns carry int64 or bool ``values``. String columns
    carry an Arrow dictionary encoding instead: ``codes``, int64 codes
    (-1 = null) into the batch-local ``uniques`` list. Every string
    leaf op then runs as int64 numpy compares/gathers over the codes
    with ONE tiny python lookup over the uniques, instead of
    object-array comparisons per leaf (profiled: object-dtype EQ/
    isin/map were the dense sweep's largest line items — guide §4.2,
    hand batches to vectorized kernels, encode strings once).
    """

    __slots__ = ("mask", "values", "codes", "uniques", "_uniq_map")

    def __init__(self, mask: np.ndarray, values, codes=None, uniques=None):
        self.mask = mask
        self.values = values
        self.codes = codes
        self.uniques = uniques
        self._uniq_map = None

    @property
    def uniq_map(self) -> dict:
        """{unique value -> dictionary code}, built once per batch."""
        if self._uniq_map is None:
            self._uniq_map = {u: i for i, u in enumerate(self.uniques)}
        return self._uniq_map


class _ListColumn:
    """Flattened once-per-batch representation of a list column, built
    from an Arrow ListArray's pieces (``BatchEvaluator.list_column``):
    per-row null ``mask`` and ``lengths``, and the elements aligned with
    ``row_ids``.

    String elements arrive only as int64 codes, so no element string
    becomes a Python object: ``vids`` carries member-group vocabulary
    codes (-1 = not in any literal list), ``fcodes`` codes into the
    forest's literal vocabulary of this attribute (-1 = in no literal
    list, or null). Integer elements arrive as numpy ``flat`` values.
    Parts nothing reads stay None."""

    __slots__ = ("mask", "lengths", "row_ids", "flat", "n", "vids",
                 "_offsets", "fcodes")

    def __init__(
        self, mask: np.ndarray, lengths: np.ndarray, flat: np.ndarray | None,
        vids: np.ndarray | None = None,
        fcodes: np.ndarray | None = None,
    ):
        self.n = len(mask)
        self.mask = mask
        self.lengths = lengths
        self.row_ids = np.repeat(np.arange(self.n, dtype=np.int64), lengths)
        self.flat = flat
        self.vids = vids
        self._offsets = None
        self.fcodes = fcodes

    @property
    def offsets(self) -> np.ndarray:
        """Flat-start offset per row (len n+1), computed once per batch.
        Access pruning subsets the SAME column once per lazy leaf —
        recomputing this O(n) cumsum per subset was 15% of the pruned
        evaluator's wall at 3k lazy leaves (profiled round 4)."""
        if self._offsets is None:
            self._offsets = np.concatenate(
                ([0], np.cumsum(self.lengths))
            )
        return self._offsets


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


#: block order of a member group's leaves (see _MemberGroup)
_GROUP_RANK = {
    Op.IN: 0, Op.ONE_OF: 0, Op.ALL_OF: 1,
    Op.NOT_ALL_OF: 2, Op.NOT_IN: 3, Op.NONE_OF: 3,
}


class _MemberGroup:
    """Inverted index over the membership leaves of one attribute: the
    ``in`` / ``not in`` leaves of a scalar, or the ``one of`` /
    ``none of`` / ``all of`` / ``not all of`` leaves of a list.

    vocab: literal value -> dense vid; CSR (vid_offsets, vid_leaves) maps
    each vid to the group-leaf positions whose literal list contains it.
    Evaluation gathers, for each batch value occurrence, one (leaf, row)
    pair per leaf that lists the value — the batch analog of the
    reference registering each predicate once in a global work-list and
    evaluating it once per event (src/atree.rs:558-591). An ``in`` /
    ``one of`` leaf is TRUE on the rows it has a pair for. An ``all of``
    leaf is TRUE where its pair count equals the row's list length:
    every element is a member. Pairs count once per element occurrence
    (a vid maps to a leaf at most once), so ``['a', 'a']`` is within
    ``all of ['a']``; an empty list has no elements and is TRUE, and a
    null element or one outside the vocabulary has no pair, so it is
    never a member. The negated ops flip the result; a null row is
    never TRUE.

    ``leaf_idxs`` is in block order (``_GROUP_RANK``): plain, subset,
    negated subset, negated plain, so the subset leaves are positions
    [subset_lo, subset_hi) and the negated ones [negated_lo, n_leaves).
    The evaluator lays the group out as rows [row_lo, row_lo + n_leaves)
    of its leaf matrix, and the group writes that block in place.
    """

    __slots__ = (
        "attr_index", "is_list", "leaf_idxs", "vocab", "vid_offsets",
        "vid_leaves", "n_leaves", "subset_lo", "subset_hi", "negated_lo",
        "row_lo",
    )

    def __init__(self, forest, attr_index: int, is_list: bool, leaf_idxs: list[int]):
        self.attr_index = attr_index
        self.is_list = is_list
        rank = {i: _GROUP_RANK[forest.leaves[i].op] for i in leaf_idxs}
        self.leaf_idxs = sorted(leaf_idxs, key=rank.__getitem__)
        self.n_leaves = len(leaf_idxs)
        ranks = [rank[i] for i in self.leaf_idxs]
        self.subset_lo = bisect.bisect_left(ranks, 1)
        self.negated_lo = bisect.bisect_left(ranks, 2)
        self.subset_hi = bisect.bisect_left(ranks, 3)
        self.row_lo = 0  # set by the evaluator's leaf-row layout
        operands = [forest.leaves[i].operand for i in self.leaf_idxs]
        values = [v for operand in operands for v in operand]
        # vids in first-occurrence order
        vocab = {v: vid for vid, v in enumerate(dict.fromkeys(values))}
        vids = np.fromiter(map(vocab.__getitem__, values), np.int64, len(values))
        positions = np.repeat(
            np.arange(self.n_leaves, dtype=np.int64),
            [len(operand) for operand in operands],
        )
        # CSR by vid, leaves ascending; one entry per (vid, leaf) even
        # for a repeated literal: the subset count relies on it
        order = np.lexsort((positions, vids))
        vids, positions = vids[order], positions[order]
        keep = np.ones(len(vids), dtype=bool)
        keep[1:] = (vids[1:] != vids[:-1]) | (positions[1:] != positions[:-1])
        self.vid_leaves = positions[keep]
        self.vid_offsets = np.concatenate(
            [[0], np.cumsum(np.bincount(vids[keep], minlength=len(vocab)))]
        )
        self.vocab = vocab

    def _codes(self, values: np.ndarray) -> np.ndarray:
        """Map integer values -> vids (-1 = in no literal list) by
        searchsorted on the sorted vocab (strings arrive pre-coded)."""
        if len(values) == 0:
            return np.empty(0, dtype=np.int64)
        keys = np.fromiter(self.vocab.keys(), dtype=np.int64, count=len(self.vocab))
        vids_by_key = np.fromiter(self.vocab.values(), dtype=np.int64, count=len(self.vocab))
        order = np.argsort(keys)
        sorted_keys, sorted_vids = keys[order], vids_by_key[order]
        pos = np.minimum(np.searchsorted(sorted_keys, values), len(sorted_keys) - 1)
        return np.where(sorted_keys[pos] == values, sorted_vids[pos], -1)

    def map_unique(self, unique_values: list) -> np.ndarray:
        """vocab lookup for a (small) unique-value dictionary; -1 = not
        in any literal list. String columns arrive as Arrow dictionary
        indices, so only UNIQUE strings ever cross into Python."""
        return np.array(
            [self.vocab.get(u, -1) for u in unique_values], dtype=np.int64
        )

    def evaluate_into(self, col, n: int, block: np.ndarray) -> None:
        """Write the group's TRUE bits for ``n`` rows of ``col`` into
        ``block``, its (n_leaves, n) row range of the leaf matrix. The
        block is C-contiguous, so its flat view takes the pairs as one
        1-D scatter."""
        lengths = None
        if self.is_list:
            rows, lengths = col.row_ids, col.lengths
            # string elements arrive pre-coded (-1 = no vocab hit)
            vids = col.vids if col.vids is not None else self._codes(col.flat)
        elif col.codes is not None:
            # dictionary path: vocab lookup over the few uniques, gather
            # through the int codes (trailing -1 = null)
            rows = np.arange(n)
            vids = np.append(self.map_unique(col.uniques), -1)[col.codes]
        else:
            rows = np.arange(n)
            vids = self._codes(col.values)
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


def _pull_block(
    cand: np.ndarray,
    values: np.ndarray,
    P_ids: np.ndarray,
    P_off: np.ndarray,
    P_counts: np.ndarray,
    lo: int,
    hi: int,
) -> None:
    """OR each node's parents' (cand & ub) rows into ``cand[lo:hi]`` —
    one vectorized reduceat over the block's slice of the
    child->parents CSR. Works on any unsigned width: the two-phase
    evaluator passes uint64 views of its packed buffers, so the AND and
    the reduceat walk 64-bit words (a 43k-node block of 512 B rows:
    0.095 s vs 0.40 s on bytes, one core of a 4-vCPU Xeon VM); tests
    also drive it on uint8 rows.

    One zero row is appended to the contribution matrix so an empty
    TRAILING segment's start (== e-s) indexes the pad instead of being
    clamped into the preceding segment — the round-4 clamp
    ``np.minimum(starts, e-s-1)`` silently truncated the preceding
    node's LAST parent contribution whenever the block ended with a
    parentless node (safe then only via an undocumented slot-ordering
    invariant; ADVICE round 4, pinned by
    tests/test_expr_vector.py::test_pull_block_trailing_empty_segment).
    A non-empty final segment ORs the pad in (identity), and empty
    MIDDLE segments (start[i] == start[i+1]) yield one garbage element
    that the counts mask zeroes."""
    s, e = int(P_off[lo]), int(P_off[hi])
    if e == s:
        return
    ids = P_ids[s:e]
    contrib = np.empty((e - s + 1, cand.shape[1]), dtype=cand.dtype)
    np.bitwise_and(cand[ids], values[ids], out=contrib[:-1])
    contrib[-1] = 0
    starts = P_off[lo:hi] - s
    pulled = np.bitwise_or.reduceat(contrib, starts, axis=0)
    pulled[P_counts[lo:hi] == 0] = 0
    np.bitwise_or(cand[lo:hi], pulled, out=cand[lo:hi])


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

    The forest and this evaluator are both picklable state that ships to
    executors via closure capture / broadcast; all heavy work happens in
    numpy on Arrow-backed columns.
    """

    #: lazy leaves evaluate on the candidate subset only below this
    #: row fraction; above it a dense evaluation is cheaper than the
    #: gather/scatter of subsetting
    DENSE_FRACTION = 0.5

    def __init__(
        self,
        forest: CompiledForest,
        memory_budget_bytes: int | None = None,
        access_pruning: bool = False,
    ):
        self.forest = forest
        self.memory_budget = (
            adaptive_budget(forest.num_nodes)
            if memory_budget_bytes is None
            else memory_budget_bytes
        )
        self.access_pruning = access_pruning
        self._plan_leaf_groups()
        self._plan_levels()
        self._plan_subscribers()
        self._plan_access()

    # ------------------------------------------------------------ planning

    def _plan_leaf_groups(self) -> None:
        """Group leaves per attribute for one-shot evaluation:

        - EQ leaves -> one searchsorted/map + scatter per attribute;
        - IN/NOT_IN leaves of a scalar, and ONE_OF/NONE_OF/ALL_OF/
          NOT_ALL_OF leaves of a list -> a broadcast *inverted index*
          (literal value -> leaf ids, ``_MemberGroup``): each value
          occurrence in the batch pairs with exactly the leaves that list
          it, so work is O(occurrences x leaves-per-value) instead of
          O(leaves x rows); ALL_OF counts those pairs per (leaf, row).
          This is the vectorized restatement of the reference's global
          predicate work-list / access-predicate pass
          (src/atree.rs:530-591).

        An attribute needs at least 4 EQ leaves, or 2 membership leaves,
        for a group. Everything else evaluates per-leaf (still vectorized
        per batch); only those generic leaves can be lazy (_plan_access).
        """
        forest = self.forest
        eq_groups: dict[int, list[int]] = {}
        member_groups: dict[tuple[int, bool], list[int]] = {}
        generic: list[int] = []
        for leaf_idx, leaf in enumerate(forest.leaves):
            if leaf.op is Op.EQ and not isinstance(leaf.operand, Decimal):
                eq_groups.setdefault(leaf.attr_index, []).append(leaf_idx)
            elif leaf.op in (Op.IN, Op.NOT_IN):
                member_groups.setdefault((leaf.attr_index, False), []).append(leaf_idx)
            elif leaf.op in self._FLAT_OPS:
                member_groups.setdefault((leaf.attr_index, True), []).append(leaf_idx)
            else:
                generic.append(leaf_idx)

        self.eq_groups: list[tuple[int, np.ndarray, list[int]]] = []
        for attr_index, leaf_idxs in eq_groups.items():
            if len(leaf_idxs) < 4:
                generic.extend(leaf_idxs)
                continue
            operands = [forest.leaves[i].operand for i in leaf_idxs]
            order = sorted(range(len(operands)), key=lambda i: operands[i])
            sorted_ops = np.array([operands[i] for i in order])
            sorted_leaf_idxs = [leaf_idxs[i] for i in order]
            self.eq_groups.append((attr_index, sorted_ops, sorted_leaf_idxs))

        self.member_groups: list[_MemberGroup] = []
        for (attr_index, is_list), leaf_idxs in member_groups.items():
            if len(leaf_idxs) < 2:
                generic.extend(leaf_idxs)
                continue
            self.member_groups.append(
                _MemberGroup(forest, attr_index, is_list, leaf_idxs)
            )
        self.generic_leaves = generic
        # leaf-row layout of the per-batch leaf matrix: each member
        # group's leaves take one contiguous block of rows, in the
        # group's own order, so a group writes its block in place (no
        # per-group matrix, no copy); every other leaf follows in leaf
        # order. _leaf_row maps a leaf index to its row.
        order: list[int] = []
        for group in self.member_groups:
            group.row_lo = len(order)
            order.extend(group.leaf_idxs)
        grouped = set(order)
        order.extend(i for i in range(len(forest.leaves)) if i not in grouped)
        self._leaf_row = np.empty(len(order), dtype=np.int64)
        self._leaf_row[np.asarray(order, dtype=np.int64)] = np.arange(
            len(order), dtype=np.int64
        )
        # what list_column builds per list attribute: member-group vids,
        # and element values for the generic ops that read them. A
        # string list gets ONE literal vocabulary (value -> code) that
        # the batch's elements encode into: the member group's vocab
        # first, so a code below its size IS the group vid, then the
        # literals of the generic flat ops
        from .schema import AttributeKind

        self._list_groups = {
            g.attr_index: g for g in self.member_groups if g.is_list
        }
        flat_literals: dict[int, list] = {}
        for i in generic:
            leaf = forest.leaves[i]
            if leaf.op in self._FLAT_OPS:
                flat_literals.setdefault(leaf.attr_index, []).extend(leaf.operand)
        self._flat_attrs = set(flat_literals)
        self._list_vocab: dict[int, dict] = {}
        for attr_index in self._list_groups.keys() | self._flat_attrs:
            kind = forest.attributes.definition(attr_index).kind
            if kind is not AttributeKind.STRING_LIST:
                continue
            group = self._list_groups.get(attr_index)
            vocab = dict(group.vocab) if group is not None else {}
            for value in flat_literals.get(attr_index, ()):
                vocab.setdefault(value, len(vocab))
            self._list_vocab[attr_index] = vocab
        # each generic flat op's literals as codes of that vocabulary,
        # worked out once here rather than per leaf per batch
        self._flat_op_codes: dict[int, np.ndarray] = {}
        for i in generic:
            leaf = forest.leaves[i]
            vocab = self._list_vocab.get(leaf.attr_index)
            if leaf.op in self._FLAT_OPS and vocab is not None:
                self._flat_op_codes[i] = np.array(
                    [vocab[v] for v in leaf.operand], dtype=np.int64
                )

    def _plan_levels(self) -> None:
        """Level-contiguous node layout: the evaluator renumbers nodes
        (``_perm``: forest id -> sweep slot) so that the leaf-node block
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

        The ordering is deterministic (sorted levels, roots-first then
        forest id). Root ids in the fused kernel's partials and in
        root_subscription_map index this order; both read it from the
        one plan per snapshot (planned_evaluator)."""
        forest = self.forest
        is_root = set(forest.node_subs.keys())

        def block_order(nodes: list[int]) -> list[int]:
            return sorted(nodes, key=lambda i: (i not in is_root, i))

        by_level: dict[int, dict[int, list[int]]] = {}
        leaf_nodes = []
        for i in range(forest.num_nodes):
            kind = forest.node_kind[i]
            if kind == LEAF:
                leaf_nodes.append(i)
            else:
                by_level.setdefault(forest.node_level[i], {}).setdefault(
                    kind, []
                ).append(i)

        leaf_nodes = block_order(leaf_nodes)
        new_order = list(leaf_nodes)
        root_segments: list[tuple[int, int]] = []
        n_leaf_roots = sum(1 for i in leaf_nodes if i in is_root)
        if n_leaf_roots:
            root_segments.append((0, n_leaf_roots))
        level_blocks: list[tuple[int, int, int, list[int]]] = []
        for level in sorted(by_level):
            for kind in sorted(by_level[level]):
                nodes = block_order(by_level[level][kind])
                lo = len(new_order)
                new_order.extend(nodes)
                level_blocks.append((kind, lo, len(new_order), nodes))
                k_roots = sum(1 for i in nodes if i in is_root)
                if k_roots:
                    root_segments.append((lo, k_roots))

        perm = np.empty(max(forest.num_nodes, 1), dtype=np.int64)
        perm[np.asarray(new_order, dtype=np.int64)] = np.arange(
            len(new_order), dtype=np.int64
        )
        self._perm = perm
        self.root_segments = root_segments
        # roots in slot order — the canonical root indexing everywhere
        self._roots_in_slot_order = [
            i for i in new_order if i in is_root
        ]

        self.levels: list[tuple[int, int, int, np.ndarray, np.ndarray]] = []
        for kind, lo, hi, nodes in level_blocks:
            left = perm[np.array([forest.node_left[i] for i in nodes], dtype=np.int64)]
            right = perm[np.array([forest.node_right[i] for i in nodes], dtype=np.int64)]
            self.levels.append((kind, lo, hi, left, right))
        self.n_leaf_nodes = len(leaf_nodes)
        # leaf-matrix row of each leaf node (_plan_leaf_groups layout)
        self.leaf_of_node = self._leaf_row[
            np.array([forest.node_left[i] for i in leaf_nodes], dtype=np.int64)
        ]
        # interning guarantees one node per distinct leaf predicate;
        # the pruning pass relies on this to scatter leaf candidates
        # with plain indexed assignment (checked once at plan time —
        # an explicit raise, not `assert`, so it survives python -O)
        if len(np.unique(self.leaf_of_node)) != len(self.leaf_of_node):
            raise AssertionError(
                "leaf_of_node is not injective: leaf interning invariant "
                "violated; pruned scatter would drop candidates"
            )

    def _plan_subscribers(self) -> None:
        """CSR of DISTINCT expression roots -> subscriber ids. CSE means
        many subscriptions share one root (4.3x on the templated 100k
        workload), so match decode runs per distinct root and expands to
        sub ids afterwards — round 1 gathered and bit-decoded one node
        row PER SUBSCRIPTION, which was the single largest cost at 100k
        subs (~45% of the evaluation). Root order follows the sweep
        slot order from _plan_levels so decode segments index straight
        into this CSR."""
        forest = self.forest
        root_nodes = []
        sub_chunks = []
        counts = []
        for node_idx in self._roots_in_slot_order:
            subs = forest.node_subs[node_idx]
            root_nodes.append(self._perm[node_idx])
            sub_chunks.append(np.asarray(subs))
            counts.append(len(subs))
        self.root_nodes = np.array(root_nodes, dtype=np.int64)
        self.root_sub_counts = np.array(counts, dtype=np.int64)
        self.root_sub_offsets = np.concatenate(
            [[0], np.cumsum(self.root_sub_counts)]
        ).astype(np.int64)
        self.root_sub_ids = (
            np.concatenate(sub_chunks) if sub_chunks else np.empty(0, dtype=np.int64)
        )
        # flat per-subscription views (public: matcher sizing, tests)
        self.sub_node_idxs = np.repeat(self.root_nodes, self.root_sub_counts)
        self.sub_ids = self.root_sub_ids

    def _plan_access(self) -> None:
        """Two-phase access-predicate split, the reference's defining
        optimization (src/atree.rs:530-591 choose_access_child / delayed
        predicates, doc src/lib.rs:77-87): an AND registers only its
        CHEAPEST child as the access predicate and defers the sibling
        until the access side fired. The compiler already cost-orders
        children (node_left = cheapest, compiler.py, ref atree.rs:133-137),
        so the access set is the leaves reachable from the roots without
        ever entering an AND's right child; everything else is LAZY.

        Vectorized restatement: lazy leaves are assumed TRUE for an
        upper-bound sweep (sound in NNF — Kleene truth is monotone under
        AND=min/OR=max), a packed downward pass turns the upper bound
        into per-leaf candidate row bitsets, and each lazy leaf then
        evaluates only on its candidate rows. Grouped leaves (inverted
        membership index, grouped equality) stay dense: they already
        cost O(occurrences), which IS the access-predicate economics —
        only per-leaf generic evaluation is worth deferring."""
        forest = self.forest
        access_nodes: set[int] = set()
        stack = list(forest.node_subs.keys())
        while stack:
            node = stack.pop()
            if node in access_nodes:
                continue
            access_nodes.add(node)
            kind = forest.node_kind[node]
            if kind == LEAF:
                continue
            stack.append(forest.node_left[node])  # cheapest child = access
            if kind != AND:
                stack.append(forest.node_right[node])  # OR defers nothing

        access_leaves = {
            forest.node_left[node]
            for node in access_nodes
            if forest.node_kind[node] == LEAF
        }
        self.lazy_leaf_idxs = [
            i for i in self.generic_leaves if i not in access_leaves
        ]
        self._lazy_set = set(self.lazy_leaf_idxs)

    # ------------------------------------------------------------ columns

    #: generic ops that read the flattened element values (everything
    #: else on a list attribute — is empty / is null — needs only
    #: lengths/mask, so flat materialization can be skipped)
    _FLAT_OPS = (Op.ONE_OF, Op.NONE_OF, Op.ALL_OF, Op.NOT_ALL_OF)

    def arrow_columns(self, batch) -> dict[int, object]:
        """Prepared column cache straight from an Arrow RecordBatch, for
        the attributes the forest actually touches (column pruning at
        the Python layer too). List attributes build through
        ``list_column``, scalars through ``_scalar_from_arrow``."""
        forest = self.forest
        needed = {leaf.attr_index for leaf in forest.leaves}
        cache: dict[int, object] = {}
        for attr_index in needed:
            definition = forest.attributes.definition(attr_index)
            arr = batch.column(batch.schema.get_field_index(definition.name))
            if definition.kind.is_list:
                cache[attr_index] = self.list_column(arr, attr_index)
            else:
                cache[attr_index] = self._scalar_from_arrow(
                    arr, definition.kind
                )
        return cache

    def list_column(self, arr, attr_index: int) -> _ListColumn:
        """Prepared list column from an Arrow ListArray's offsets and
        flattened values — the list-encoding path of ``arrow_columns``.

        String elements encode ONCE per batch, in Arrow, into codes of
        the attribute's literal vocabulary (``pc.index_in``; -1 = in no
        literal list, or a null element, which is never a member). The
        same int64 codes feed the member group (``vids``) and the
        generic flat ops (``fcodes``: int64 isin instead of
        object-array hashing), and no element string becomes a Python
        object: converting even a batch's unique tokens to Python was
        most of the encoding cost. A string list whose elements are not
        typed string (e.g. ``list<null>``) is cast to string first.
        Other element types hand their flat values over as numpy. Parts
        nothing reads are not built."""
        import pyarrow as pa
        import pyarrow.compute as pc

        mask = pc.is_null(arr).to_numpy(zero_copy_only=False)
        lengths = (
            pc.fill_null(pc.list_value_length(arr), 0)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        group = self._list_groups.get(attr_index)
        reads_flat = attr_index in self._flat_attrs
        flat = pc.list_flatten(arr)
        flat_np = vids = fcodes = None
        if attr_index in self._list_vocab:
            if not (pa.types.is_string(flat.type) or pa.types.is_large_string(flat.type)):
                flat = flat.cast(pa.string())
            codes = (
                pc.fill_null(
                    pc.index_in(flat, value_set=self._value_set(attr_index, flat.type)),
                    -1,
                )
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            if group is not None:
                vids = np.where(codes < len(group.vocab), codes, -1)
            if reads_flat:
                fcodes = codes
        elif group is not None or reads_flat:
            flat_np = flat.to_numpy(zero_copy_only=False)
        return _ListColumn(mask, lengths, flat_np, vids=vids, fcodes=fcodes)

    def _value_set(self, attr_index: int, value_type):
        """An attribute's literal vocabulary as an Arrow array in code
        order, built once per process and element type."""
        import pyarrow as pa

        cached = getattr(self, "_value_set_cache", None)
        if cached is None:
            cached = self._value_set_cache = {}
        key = (attr_index, str(value_type))
        value_set = cached.get(key)
        if value_set is None:
            value_set = cached[key] = pa.array(
                list(self._list_vocab[attr_index]), type=value_type
            )
        return value_set

    def _scalar_from_arrow(self, arr, kind) -> _ScalarColumn:
        import pyarrow as pa
        import pyarrow.compute as pc

        from .schema import AttributeKind

        mask = pc.is_null(arr).to_numpy(zero_copy_only=False)
        if kind is AttributeKind.STRING:
            # dictionary-encode once per batch: only UNIQUE strings
            # cross into Python; every leaf then compares int64 codes
            enc = pc.dictionary_encode(arr)
            codes = (
                pc.fill_null(enc.indices, -1)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            return _ScalarColumn(
                mask, None, codes=codes, uniques=enc.dictionary.to_pylist()
            )
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

    def _eval_generic_leaf(self, leaf_idx: int, col, n: int) -> np.ndarray:
        leaf = self.forest.leaves[leaf_idx]
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

        if op in (Op.EQ, Op.NE, Op.LT, Op.LE, Op.GT, Op.GE):
            if isinstance(operand, Decimal):
                cmp_op, threshold = (
                    _decimal_threshold(op, operand)
                    if op in (Op.LT, Op.LE, Op.GT, Op.GE)
                    else (op, None)
                )
                if op is Op.EQ or op is Op.NE:
                    frac = _scaled_int_from_decimal_literal(operand)
                    if frac.denominator != 1:
                        result = np.zeros(n, dtype=bool) if op is Op.EQ else np.ones(n, dtype=bool)
                    else:
                        result = col.values == int(frac)
                        if op is Op.NE:
                            result = ~result
                    return _true_mask(result, col.mask)
                values, literal, op = col.values, threshold, cmp_op
            elif isinstance(operand, str):
                code = col.uniq_map.get(operand, -2)  # -2: absent
                result = col.codes == code if op is Op.EQ else col.codes != code
                return _true_mask(result, col.mask)
            else:
                values, literal = col.values, operand
            if op is Op.EQ:
                result = values == literal
            elif op is Op.NE:
                result = values != literal
            elif op is Op.LT:
                result = values < literal
            elif op is Op.LE:
                result = values <= literal
            elif op is Op.GT:
                result = values > literal
            else:
                result = values >= literal
            return _true_mask(result, col.mask)

        if op in (Op.IN, Op.NOT_IN):
            if isinstance(operand[0], str):
                m = col.uniq_map
                op_codes = np.array(
                    [m[v] for v in operand if v in m], dtype=np.int64
                )
                result = np.isin(col.codes, op_codes)
            else:
                result = np.isin(col.values, np.array(operand, dtype=np.int64))
            if op is Op.NOT_IN:
                result = ~result
            return _true_mask(result, col.mask)

        # list operators over the flattened column
        if col.fcodes is not None:
            member = np.isin(col.fcodes, self._flat_op_codes[leaf_idx])
        else:
            member = np.isin(col.flat, np.array(operand, dtype=np.int64))
        n_rows = col.n
        if op in (Op.ONE_OF, Op.NONE_OF):
            hits = np.bincount(col.row_ids[member], minlength=n_rows) > 0
            result = hits if op is Op.ONE_OF else ~hits
        else:  # ALL_OF / NOT_ALL_OF: no non-member elements; empty -> all-of
            violations = np.bincount(col.row_ids[~member], minlength=n_rows) > 0
            result = ~violations if op is Op.ALL_OF else violations
        return _true_mask(result, col.mask)

    def _subset_col(self, col, idx: np.ndarray):
        """Row-subset view of a prepared column (lazy-leaf evaluation on
        candidate rows only)."""
        if isinstance(col, _ScalarColumn):
            sub = _ScalarColumn(
                col.mask[idx],
                None if col.values is None else col.values[idx],
                codes=None if col.codes is None else col.codes[idx],
                uniques=col.uniques,
            )
            # read the parent's map through the property (its slot may
            # still be None): built once per batch, shared by every
            # lazy-leaf subset
            if col.codes is not None:
                sub._uniq_map = col.uniq_map
            return sub
        offsets = col.offsets
        lengths = col.lengths[idx]
        total = int(lengths.sum())
        if total:
            starts = offsets[idx]
            gather = np.repeat(starts, lengths) + (
                np.arange(total, dtype=np.int64)
                - np.repeat(np.concatenate([[0], np.cumsum(lengths)[:-1]]), lengths)
            )
        else:
            gather = np.empty(0, dtype=np.int64)
        return _ListColumn(
            col.mask[idx],
            lengths,
            None if col.flat is None else col.flat[gather],
            vids=None if col.vids is None else col.vids[gather],
            fcodes=None if col.fcodes is None else col.fcodes[gather],
        )

    def _eval_leaves(self, cache: dict, n: int, lazy_true: bool = False) -> np.ndarray:
        """(n_leaves, n) TRUE matrix in leaf-row order (``_leaf_row``)."""
        forest = self.forest
        leaf_row = self._leaf_row
        leaf_values = np.empty((len(forest.leaves), n), dtype=bool)

        # grouped equality: one searchsorted + scatter per attribute
        for attr_index, sorted_ops, leaf_idxs in self.eq_groups:
            col = cache[attr_index]
            if sorted_ops.dtype.kind in ("U", "O"):
                m = {v: i for i, v in enumerate(sorted_ops)}
                lookup = np.append(
                    np.array([m.get(u, -1) for u in col.uniques], dtype=np.int64),
                    -1,   # trailing slot: null codes (-1) land here
                )
                pos = lookup[col.codes]
                hit = pos >= 0
            else:
                pos = np.searchsorted(sorted_ops, col.values)
                pos_clipped = np.minimum(pos, len(sorted_ops) - 1)
                hit = sorted_ops[pos_clipped] == col.values
                pos = pos_clipped
            rows = np.arange(n)
            group_rows = np.zeros((len(leaf_idxs), n), dtype=bool)
            group_rows[pos[hit], rows[hit]] = True
            if col.mask.any():
                group_rows[:, col.mask] = False
            leaf_values[leaf_row[leaf_idxs], :] = group_rows

        for group in self.member_groups:
            group.evaluate_into(
                cache[group.attr_index], n,
                leaf_values[group.row_lo : group.row_lo + group.n_leaves],
            )

        for leaf_idx in self.generic_leaves:
            if lazy_true and leaf_idx in self._lazy_set:
                leaf_values[leaf_row[leaf_idx]] = True  # monotone upper bound
                continue
            attr_index = self.forest.leaves[leaf_idx].attr_index
            leaf_values[leaf_row[leaf_idx]] = self._eval_generic_leaf(
                leaf_idx, cache[attr_index], n
            )
        return leaf_values

    # ------------------------------------------------------------ sweep

    def _chunk_rows(self, n_rows: int) -> int:
        nodes = max(1, self.forest.num_nodes)
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
            nn = max(self.forest.num_nodes, 1)
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
        if self.access_pruning and self.lazy_leaf_idxs:
            return self._evaluate_two_phase(cache, n)
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

    # --------------------------------------- two-phase access pruning

    def _parent_csr(self):
        """child slot -> parent slots CSR (P_ids, P_off, counts), built
        once per evaluator: the downward candidate pass pulls each
        node's parents instead of scattering to children (see
        _evaluate_two_phase). Total size = 2 x interior nodes."""
        cached = getattr(self, "_parent_csr_cache", None)
        if cached is not None:
            return cached
        nn = max(self.forest.num_nodes, 1)
        children, parents = [], []
        for _, lo, hi, left, right in self.levels:
            ps = np.arange(lo, hi, dtype=np.int64)
            children.append(left)
            parents.append(ps)
            children.append(right)
            parents.append(ps)
        if children:
            ch = np.concatenate(children)
            pa = np.concatenate(parents)
            order = np.argsort(ch, kind="stable")
            p_ids = pa[order]
            counts = np.bincount(ch, minlength=nn)
        else:
            p_ids = np.empty(0, dtype=np.int64)
            counts = np.zeros(nn, dtype=np.int64)
        p_off = np.concatenate(([0], np.cumsum(counts)))
        self._parent_csr_cache = (p_ids, p_off, counts)
        return self._parent_csr_cache

    def _pruning_buffers(self, nb: int):
        cached = getattr(self, "_prune_buf_cache", None)
        if cached is None:
            cached = self._prune_buf_cache = {}
        bufs = cached.get(nb)
        if bufs is None:
            if len(cached) > 4:
                cached.clear()
            nn = max(self.forest.num_nodes, 1)
            nl = max(len(self.forest.leaves), 1)
            bufs = cached[nb] = (
                np.empty((nn, nb), dtype=np.uint8),   # candidate bits/node
                np.empty((nl, nb), dtype=np.uint8),   # candidate bits/leaf
            )
        return bufs

    def _evaluate_two_phase(
        self, cache: dict[int, object], n: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Access pass -> candidate propagation -> lazy pass -> exact
        sweep (the vectorized two-phase of _plan_access).

        Phase 1 evaluates only access leaves, assumes every LAZY leaf
        TRUE, and sweeps: because NNF truth is monotone, the result is a
        sound upper bound — any root FALSE here is exactly FALSE.
        The downward pass then computes, per node, the packed row set
        where its exact value is still needed: a child inherits
        cand(parent) & ub(parent) (rows where the parent can still be
        TRUE and is itself needed) — for an AND's right child, ub(parent)
        already includes the access sibling's truth, which is precisely
        the reference's 'evaluate the delayed predicate only where the
        access predicate fired' (src/atree.rs:568-574). Phase 2
        evaluates each lazy leaf on its candidate rows (dense fallback
        above DENSE_FRACTION); phase 3 re-sweeps with exact bits."""
        leaf_values = self._eval_leaves(cache, n, lazy_true=True)

        nb = self._packed_width(n)
        values, gather_a, gather_b = self._buffers(nb)
        cand, leaf_cand = self._pruning_buffers(nb)

        leaf_bits = self._pack_padded(leaf_values, nb)
        self._sweep(values, gather_a, gather_b, leaf_bits)  # upper bound

        # downward candidate pass as a parent PULL over a precomputed
        # child->parents CSR: each block (descending by height, leaves
        # last) takes its parents' (cand & ub) rows — parents are final
        # because their blocks came earlier — and OR-combines them per
        # node with one vectorized reduceat. The round-3 form scattered
        # parent contributions to children with np.bitwise_or.at, whose
        # unbuffered element loop was the largest single line of the
        # pruned evaluator after the offsets cache (profiled round 4).
        # Root seeding reads contiguous root segments (slot layout).
        # The pull runs on uint64 views: _packed_width pads every row to
        # whole words, so the views are free and reduceat walks 8x fewer
        # elements than on bytes.
        cand[:] = 0
        for lo, k in self.root_segments:
            cand[lo : lo + k] = values[lo : lo + k]
        P_ids, P_off, P_counts = self._parent_csr()
        blocks = [(lo, hi) for _, lo, hi, _, _ in reversed(self.levels)]
        blocks.append((0, self.n_leaf_nodes))
        cand_words, value_words = cand.view(np.uint64), values.view(np.uint64)
        for lo, hi in blocks:
            _pull_block(cand_words, value_words, P_ids, P_off, P_counts, lo, hi)

        # leaves are interned (one node per distinct predicate), so
        # leaf_of_node is injective and plain indexed assignment
        # replaces the unbuffered bitwise_or.at scatter
        leaf_cand[:] = 0
        leaf_cand[self.leaf_of_node] = cand[: self.n_leaf_nodes]

        # phase 2: lazy leaves on candidate rows only. Leaves whose
        # candidate bitset is entirely ZERO are skipped without even an
        # unpack: by the downward-pass invariant their value cannot
        # affect any root on any row, so the upper-bound TRUE bits may
        # stay in leaf_bits (writing FALSE, as the k==0 branch below
        # does, is equally valid — both are unobservable at the roots).
        # When many lazy leaves are selective, most have no candidates
        # in most batches, and the per-leaf python iteration itself was
        # the phase-2 floor (profiled round 4). One vectorized
        # any-reduction finds the live subset.
        lazy_arr = np.asarray(self.lazy_leaf_idxs, dtype=np.int64)
        lazy_rows = self._leaf_row[lazy_arr]
        live = leaf_cand[lazy_rows].any(axis=1)
        for leaf_idx, leaf_row in zip(lazy_arr[live], lazy_rows[live]):
            mask = np.unpackbits(
                leaf_cand[leaf_row], bitorder="little"
            )[:n].astype(bool)
            k = int(mask.sum())
            col = cache[self.forest.leaves[leaf_idx].attr_index]
            if k == 0:
                row = np.zeros(n, dtype=bool)
            elif k >= self.DENSE_FRACTION * n:
                row = self._eval_generic_leaf(leaf_idx, col, n)
            else:
                idx = np.flatnonzero(mask)
                row = np.zeros(n, dtype=bool)
                row[idx] = self._eval_generic_leaf(
                    leaf_idx, self._subset_col(col, idx), k
                )
            packed_row = np.packbits(row, bitorder="little")
            leaf_bits[leaf_row, : len(packed_row)] = packed_row

        self._sweep(values, gather_a, gather_b, leaf_bits)  # exact
        return self._decode_roots(values, n)


#: the evaluator planned for the most recent snapshot (see
#: planned_evaluator); a module slot rather than an attribute of the
#: forest, so pickling an evaluator never drags it along
_latest_plan: BatchEvaluator | None = None


def planned_evaluator(forest: CompiledForest) -> BatchEvaluator:
    """The BatchEvaluator planned for this compiled snapshot, planned
    once. ``ForestBuilder.compile()`` returns the same CompiledForest
    until the next insert/delete, so every consumer of one crawl step
    (root map, fused kernel, matcher, shard root counts) shares one plan
    instead of re-planning the same snapshot. One slot: a new snapshot
    replaces the previous plan, which live forests never return to.

    The plan is shared — callers that need a different
    ``access_pruning`` flag take a shallow copy
    (engine.matcher.broadcast_evaluator) rather than set it here."""
    global _latest_plan
    plan = _latest_plan
    if plan is None or plan.forest is not forest:
        plan = _latest_plan = BatchEvaluator(forest)
    return plan
