"""Vectorized batch evaluator vs the exact single-node oracle.

Mirrors the reference's property-based strategy
(/root/reference/src/predicates.rs:1422-1475): randomized events +
randomized expressions, oracle agreement required on every row.
"""

import random
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

from a_tree_spark.expr import (
    AttributeDefinition as A,
    AttributeTable,
    ForestBuilder,
    evaluate_event,
)
from a_tree_spark.expr.vector import BatchEvaluator


def attributes():
    return AttributeTable([
        A.boolean("private"),
        A.integer("exchange_id"),
        A.integer("price"),
        A.float("bidfloor"),
        A.string("country"),
        A.string("city"),
        A.string_list("deals"),
        A.integer_list("segment_ids"),
    ])


COUNTRIES = ["CA", "US", "FR", "GB", "IN", None]
CITIES = ["QC", "AZ", "TN", "NY", None]
DEALS = [f"deal-{i}" for i in range(1, 12)]


def random_event(rng: random.Random) -> dict:
    return {
        "private": rng.choice([True, False, None]),
        "exchange_id": rng.choice([None] + list(range(1, 8))),
        "price": rng.choice([None] + list(range(0, 50, 7))),
        "bidfloor": rng.choice(
            [None, Decimal("0.5"), Decimal("1.5"), Decimal("2.25"), Decimal("10")]
        ),
        "country": rng.choice(COUNTRIES),
        "city": rng.choice(CITIES),
        "deals": rng.choice(
            [None, []] + [sorted(rng.sample(DEALS, rng.randint(1, 4))) for _ in range(3)]
        ),
        "segment_ids": rng.choice(
            [None, []] + [sorted(rng.sample(range(1, 20), rng.randint(1, 5))) for _ in range(3)]
        ),
    }


def random_expression(rng: random.Random) -> str:
    leaves = [
        lambda: f"exchange_id = {rng.randint(1, 8)}",
        lambda: f"exchange_id <> {rng.randint(1, 8)}",
        lambda: f"price < {rng.randint(1, 50)}",
        lambda: f"price >= {rng.randint(1, 50)}",
        lambda: f"{rng.randint(1, 50)} < price",            # reversed operand
        lambda: f"bidfloor > {rng.choice(['0.4', '1.5', '2.2499', '9.999999'])}",
        lambda: f"bidfloor <= {rng.choice(['0.5', '1.75', '10.'])}",
        lambda: f"country = '{rng.choice(['CA', 'US', 'FR'])}'",
        lambda: f"country in {rng.sample(['CA', 'US', 'FR', 'GB'], 2)!r}".replace("(", "[").replace(")", "]"),
        lambda: f"city not in ['QC', 'NY']",
        lambda: "private",
        lambda: "not private",
        lambda: "exchange_id is null",
        lambda: "country is not null",
        lambda: "deals is empty",
        lambda: "segment_ids is not empty",
        lambda: f"deals one of {rng.sample(DEALS, 3)!r}".replace("(", "[").replace(")", "]"),
        lambda: f"deals none of {rng.sample(DEALS, 2)!r}".replace("(", "[").replace(")", "]"),
        lambda: f"deals all of {rng.sample(DEALS, 5)!r}".replace("(", "[").replace(")", "]"),
        lambda: f"segment_ids one of {sorted(rng.sample(range(1, 20), 4))}",
        lambda: f"segment_ids all of {sorted(rng.sample(range(1, 20), 8))}",
    ]

    def term() -> str:
        text = rng.choice(leaves)()
        if rng.random() < 0.25:
            text = f"not ({text})" if rng.random() < 0.5 else f"not {text}"
        return text

    parts = [term() for _ in range(rng.randint(1, 5))]
    text = parts[0]
    for part in parts[1:]:
        text += f" {rng.choice(['and', 'or'])} {part}"
    if rng.random() < 0.3:
        text = f"({text}) {rng.choice(['and', 'or'])} {term()}"
    return text


def events_to_pdf(events: list[dict]) -> pd.DataFrame:
    return pd.DataFrame({
        "private": pd.Series([e["private"] for e in events], dtype=object),
        "exchange_id": pd.Series([e["exchange_id"] for e in events], dtype="Int64").astype(object),
        "price": pd.Series([e["price"] for e in events], dtype=object),
        "bidfloor": pd.Series([e["bidfloor"] for e in events], dtype=object),
        "country": pd.Series([e["country"] for e in events], dtype=object),
        "city": pd.Series([e["city"] for e in events], dtype=object),
        "deals": pd.Series([e["deals"] for e in events], dtype=object),
        "segment_ids": pd.Series([e["segment_ids"] for e in events], dtype=object),
    })


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
def test_vectorized_matches_oracle_randomized(seed):
    rng = random.Random(seed)
    builder = ForestBuilder(attributes())
    n_subs = 120
    for sub_id in range(n_subs):
        builder.insert(sub_id, random_expression(rng))
    forest = builder.compile()
    evaluator = BatchEvaluator(forest)

    events = [random_event(rng) for _ in range(300)]
    pdf = events_to_pdf(events)
    rows, subs = evaluator.evaluate(pdf)

    got: dict[int, set] = {}
    for row, sub in zip(rows.tolist(), subs.tolist()):
        got.setdefault(row, set()).add(sub)

    for i, event in enumerate(events):
        expected = set(evaluate_event(forest, event))
        assert got.get(i, set()) == expected, (
            f"row {i} mismatch: event={event}"
        )


def test_small_chunking_equals_single_pass():
    rng = random.Random(42)
    builder = ForestBuilder(attributes())
    for sub_id in range(40):
        builder.insert(sub_id, random_expression(rng))
    forest = builder.compile()
    events = [random_event(rng) for _ in range(100)]
    pdf = events_to_pdf(events)

    big = BatchEvaluator(forest)
    # Force tiny chunks through the memory budget knob
    small = BatchEvaluator(forest, memory_budget_bytes=1)
    rows_a, subs_a = big.evaluate(pdf)
    rows_b, subs_b = small.evaluate(pdf)
    a = sorted(zip(rows_a.tolist(), subs_a.tolist()))
    b = sorted(zip(rows_b.tolist(), subs_b.tolist()))
    assert a == b


def test_empty_inputs():
    builder = ForestBuilder(attributes())
    forest = builder.compile()
    evaluator = BatchEvaluator(forest)
    rows, subs = evaluator.evaluate(events_to_pdf([]))
    assert len(rows) == 0 and len(subs) == 0

    builder.insert(1, "private")
    evaluator = BatchEvaluator(builder.compile())
    rows, subs = evaluator.evaluate(events_to_pdf([]))
    assert len(rows) == 0


def test_access_pruning_selective_workload_with_planted_matches():
    """Two-phase access pruning (reference src/atree.rs:530-591) on its
    home turf: narrow equality access predicates guarding wide ALL_OF
    lazy siblings. Results must equal the dense evaluator exactly,
    including planted rows engineered to fire specific subscriptions
    (6.6x faster measured at 400 subs x 20k rows — recorded in
    BENCH/PLANS.md)."""
    import numpy as np
    import pandas as pd

    from a_tree_spark.expr import AttributeDefinition as A, AttributeTable

    attrs = AttributeTable([A.integer("k"), A.integer_list("xs")])
    builder = ForestBuilder(attrs)
    rng = np.random.RandomState(7)
    wides = {}
    for i in range(60):
        wide = sorted(rng.choice(100000, size=40, replace=False).tolist())
        wides[i] = wide
        builder.insert(i, f"k = {i % 50} and xs all of {wide}")
    forest = builder.compile()

    n = 4000
    ks = rng.randint(0, 50, size=n).astype(object)
    xs = [sorted(rng.randint(0, 100000, size=8).tolist()) for _ in range(n)]
    for i in range(0, 60, 3):  # plant rows that DO satisfy sub i
        ks[i] = i % 50
        xs[i] = sorted(rng.choice(wides[i], size=5, replace=False).tolist())
    pdf = pd.DataFrame({"k": pd.Series(ks, dtype=object),
                        "xs": pd.Series(xs, dtype=object)})

    dense = BatchEvaluator(forest)
    pruned = BatchEvaluator(forest, access_pruning=True)
    assert len(pruned.lazy_leaf_idxs) > 0  # pruning actually engaged
    a = sorted(zip(*map(np.ndarray.tolist, dense.evaluate(pdf))))
    b = sorted(zip(*map(np.ndarray.tolist, pruned.evaluate(pdf))))
    assert a == b and len(a) >= 20  # planted matches found by both


def test_evaluate_arrow_matches_pandas_and_skips_object_lists(monkeypatch):
    """The Arrow path (the general matcher's hot path since round 3)
    must agree with the pandas path exactly AND never run
    _ListColumn.__init__'s per-row python loop — list columns build
    zero-copy from the ListArray's offsets/values (VERDICT.md round 2)."""
    import pyarrow as pa

    from a_tree_spark.expr import AttributeDefinition as A, AttributeTable, ForestBuilder
    from a_tree_spark.expr import vector as V

    attrs = AttributeTable([
        A.string_list("tags"), A.integer("x"), A.string("s"),
        A.integer_list("nums"), A.boolean("flag"),
    ])
    builder = ForestBuilder(attrs)
    builder.insert(1, "tags one of ['a', 'b'] and x > 3")
    builder.insert(2, "tags none of ['c'] or s = 'q'")
    builder.insert(3, "nums all of [1, 2] and flag")
    builder.insert(4, "tags is empty and x in [2, 10]")
    builder.insert(5, "not (tags all of ['a']) and s <> 'r'")
    ev = BatchEvaluator(builder.compile())

    batch = pa.record_batch({
        # row 5 plants a null ELEMENT inside a member-grouped string
        # list (ADVICE round 3: dictionary_encode emits null indices →
        # INT64_MIN after astype → IndexError in the vocab lookup)
        "tags": pa.array([["a", "c"], None, [], ["b"], ["a"], [None, "b"]],
                         type=pa.list_(pa.string())),
        "x": pa.array([5, None, 2, 10, 4, 7], type=pa.int64()),
        "s": pa.array(["q", None, "r", "q", "z", "q"]),
        "nums": pa.array([[1, 2], [1], [2, 1, 1], None, [], [None, 1]],
                         type=pa.list_(pa.int64())),
        "flag": pa.array([True, True, None, True, False, True]),
    })
    pdf = batch.to_pandas()
    want = sorted(zip(*map(np.ndarray.tolist, ev.evaluate(pdf))))

    monkeypatch.setattr(
        V._ListColumn, "__init__",
        lambda self, series: (_ for _ in ()).throw(
            AssertionError("pandas object-list path used in arrow hot path")
        ),
    )
    got = sorted(zip(*map(np.ndarray.tolist, ev.evaluate_arrow(batch))))
    assert got == want and len(got) > 0


def test_pull_block_trailing_empty_segment():
    """A block ending in a PARENTLESS node must not truncate the
    preceding node's parent list (ADVICE round 4: the old clamp
    np.minimum(starts, e-s-1) dropped that node's last parent
    contribution — a 2-parent node pulled only 1)."""
    from a_tree_spark.expr.vector import _pull_block

    nb = 1  # one packed byte per node
    # nodes 0..2 are the block; nodes 3..4 are (already-final) parents.
    # The bug needs the MULTI-parent node immediately before the empty
    # trailing segment: node0 <- {3}; node1 <- {3, 4}; node2 <- none.
    # Old clamp: starts [0,1,3] -> [0,1,2], so node1 reduced over [1,2)
    # — parent 4's contribution dropped.
    P_ids = np.array([3, 3, 4], dtype=np.int64)
    P_off = np.array([0, 1, 3, 3, 3, 3], dtype=np.int64)
    P_counts = np.diff(P_off)
    values = np.zeros((5, nb), dtype=np.uint8)
    cand = np.zeros((5, nb), dtype=np.uint8)
    # parent 3 contributes bit 0 on rows 0b0001; parent 4 bit 1
    cand[3] = values[3] = 0b0001
    cand[4] = values[4] = 0b0010
    _pull_block(cand, values, P_ids, P_off, P_counts, 0, 3)
    assert cand[0, 0] == 0b0001
    assert cand[1, 0] == 0b0011  # BOTH parents (old clamp gave 0b0001)
    assert cand[2, 0] == 0  # parentless: counts mask zeroes the pad


def _random_csr_block(rng, n_block, n_parents):
    """Child->parents CSR over a block of ``n_block`` nodes whose parents
    sit above it; some segments empty, the last one always empty."""
    counts = rng.integers(0, 4, size=n_block + n_parents)
    counts[n_block - 1] = 0
    counts[n_block:] = 0
    P_off = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
    P_ids = rng.integers(n_block, n_block + n_parents, size=int(P_off[-1]))
    return P_ids.astype(np.int64), P_off, counts


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_pull_block_words_equal_bytes(seed):
    """The two-phase evaluator pulls on uint64 views of its packed
    buffers; the result must equal the byte-wide pull bit for bit."""
    from a_tree_spark.expr.vector import _pull_block

    rng = np.random.default_rng(seed)
    n_block, n_parents, nb = 40, 25, 24
    P_ids, P_off, P_counts = _random_csr_block(rng, n_block, n_parents)
    nn = n_block + n_parents
    values = rng.integers(0, 256, size=(nn, nb), dtype=np.uint8)
    cand = rng.integers(0, 256, size=(nn, nb), dtype=np.uint8)
    cand[:n_block] = 0
    as_bytes, as_words = cand.copy(), cand.copy()
    _pull_block(as_bytes, values, P_ids, P_off, P_counts, 0, n_block)
    _pull_block(as_words.view(np.uint64), values.view(np.uint64),
                P_ids, P_off, P_counts, 0, n_block)
    assert np.array_equal(as_bytes, as_words)
    assert as_bytes[:n_block].any()


def _tags_forest():
    """Selective integer access predicates guarding lazy string-list
    ``all of`` / ``none of`` leaves (a single ``none of`` leaf stays out
    of the member group, so it is generic and lazy too)."""
    from a_tree_spark.expr import AttributeDefinition as A, AttributeTable

    attrs = AttributeTable([A.integer("k"), A.string_list("tags"),
                            A.string("s")])
    builder = ForestBuilder(attrs)
    for i in range(8):
        toks = ", ".join(f"'t{(i * 3 + j) % 12}'" for j in range(5))
        builder.insert(i, f"k = {i} and tags all of [{toks}]")
    builder.insert(8, "k = 2 and tags none of ['t1', 't3']")
    builder.insert(9, "k = 5 and s = 'q'")
    return builder.compile()


def _tags_batch(n, seed):
    """``n`` rows with null lists, empty lists and null elements."""
    import pyarrow as pa

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(12)]
    tags = []
    for _ in range(n):
        r = rng.random()
        if r < 0.08:
            tags.append(None)
        elif r < 0.16:
            tags.append([])
        else:
            row = rng.sample(vocab, rng.randint(1, 4))
            if rng.random() < 0.1:
                row.insert(rng.randint(0, len(row)), None)
            tags.append(row)
    return pa.record_batch({
        "k": pa.array([rng.choice([None] + list(range(16))) for _ in range(n)],
                      type=pa.int64()),
        "tags": pa.array(tags, type=pa.list_(pa.string())),
        "s": pa.array([rng.choice(["q", "r", None]) for _ in range(n)]),
    })


@pytest.mark.parametrize("n", [1, 63, 64, 65, 4095, 4097])
def test_pruned_equals_dense_on_string_list_lazy_leaves(n, monkeypatch):
    """Access pruning on ``all of`` / ``none of`` string-list leaves,
    through ``arrow_columns``: row counts around the 64-bit word and the
    partial last byte, with null lists, empty lists and null elements.
    Both must also agree with the single-event oracle."""
    forest = _tags_forest()
    dense = BatchEvaluator(forest)
    pruned = BatchEvaluator(forest, access_pruning=True)
    lazy_ops = {forest.leaves[i].op.name for i in pruned.lazy_leaf_idxs}
    assert {"ALL_OF", "NONE_OF"} <= lazy_ops

    subsets = []
    real_subset = pruned._subset_col

    def counting_subset(col, idx):
        subsets.append(len(idx))
        return real_subset(col, idx)

    monkeypatch.setattr(pruned, "_subset_col", counting_subset)
    batch = _tags_batch(n, seed=n)
    want = sorted(zip(*map(np.ndarray.tolist, dense.evaluate_arrow(batch))))
    got = sorted(zip(*map(np.ndarray.tolist, pruned.evaluate_arrow(batch))))
    assert got == want
    if n >= 64:
        assert subsets and len(want) > 0  # lazy leaves ran on subsets

    oracle = sorted(
        (r, sub)
        for r, event in enumerate(batch.to_pylist())
        for sub in evaluate_event(forest, event)
    )
    assert got == oracle


def test_subset_columns_share_one_dictionary_map():
    """Lazy-leaf subsets of one prepared column must reuse the parent's
    {value -> code} map, not rebuild it per subset: both subsets (and
    the parent) hold the same map object once leaves have read it. A
    string list has no per-batch map at all: its flat-op literals are
    coded once, at plan time, and subsets evaluate like the parent."""
    forest = _tags_forest()
    ev = BatchEvaluator(forest, access_pruning=True)
    cache = ev.arrow_columns(_tags_batch(200, seed=3))
    attrs = forest.attributes
    subset_idx = [np.arange(0, 200, 3), np.arange(1, 200, 7)]

    s_col = cache[attrs.index_of("s")]
    s_leaves = [i for i in ev.generic_leaves
                if forest.leaves[i].attr_index == attrs.index_of("s")]
    subsets = [ev._subset_col(s_col, idx) for idx in subset_idx]
    for sub in subsets:
        for i in s_leaves:
            ev._eval_generic_leaf(i, sub, len(sub.mask))
    built = s_col._uniq_map
    assert built is not None
    assert all(sub._uniq_map is built for sub in subsets)

    tags_col = cache[attrs.index_of("tags")]
    tags_leaves = [i for i in ev.generic_leaves
                   if forest.leaves[i].attr_index == attrs.index_of("tags")]
    assert tags_col.fcodes is not None
    assert sorted(ev._flat_op_codes) == sorted(tags_leaves)
    for idx in subset_idx:
        sub = ev._subset_col(tags_col, idx)
        for i in tags_leaves:
            np.testing.assert_array_equal(
                ev._eval_generic_leaf(i, sub, len(idx)),
                ev._eval_generic_leaf(i, tags_col, 200)[idx],
            )
