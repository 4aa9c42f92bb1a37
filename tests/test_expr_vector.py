"""Vectorized batch evaluator vs the exact single-node oracle.

Mirrors the reference's property-based strategy
(/root/reference/src/predicates.rs:1422-1475): randomized events +
randomized expressions, oracle agreement required on every row.
"""

import random
from decimal import Decimal

import numpy as np
import pytest

from a_tree_spark.expr import (
    AttributeDefinition as A,
    AttributeTable,
    ForestBuilder,
    evaluate_event,
    normalize_event,
)
from a_tree_spark.expr.schema import AttributeKind
from a_tree_spark.expr.vector import BatchEvaluator
from tests.conftest import event_batch


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
    rows, subs = evaluator.evaluate_arrow(event_batch(attributes(), events))

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
    batch = event_batch(attributes(), events)

    big = BatchEvaluator(forest)
    # Force tiny chunks through the memory budget
    small = BatchEvaluator(forest)
    small.memory_budget = 1
    rows_a, subs_a = big.evaluate_arrow(batch)
    rows_b, subs_b = small.evaluate_arrow(batch)
    a = sorted(zip(rows_a.tolist(), subs_a.tolist()))
    b = sorted(zip(rows_b.tolist(), subs_b.tolist()))
    assert a == b


def test_empty_inputs():
    builder = ForestBuilder(attributes())
    forest = builder.compile()
    evaluator = BatchEvaluator(forest)
    rows, subs = evaluator.evaluate_arrow(event_batch(attributes(), []))
    assert len(rows) == 0 and len(subs) == 0

    builder.insert(1, "private")
    evaluator = BatchEvaluator(builder.compile())
    rows, subs = evaluator.evaluate_arrow(event_batch(attributes(), []))
    assert len(rows) == 0


def test_access_pruning_selective_workload_with_planted_matches():
    """The reference's access-predicate shape (src/atree.rs:530-591):
    narrow equality predicates guarding wide ALL_OF siblings. The 60
    ``all of`` leaves over ``xs`` share one member group; a lone wide
    ``all of`` over ``ys`` (the reference's benches/data/search.json
    shape: one expression with a long list) forms its own group.
    Results must equal the single-event oracle, including planted rows
    engineered to fire specific subscriptions."""
    attrs = AttributeTable([A.integer("k"), A.integer_list("xs"),
                            A.integer_list("ys")])
    builder = ForestBuilder(attrs)
    rng = np.random.RandomState(7)
    wides = {}
    for i in range(60):
        wide = sorted(rng.choice(100000, size=40, replace=False).tolist())
        wides[i] = wide
        builder.insert(i, f"k = {i % 50} and xs all of {wide}")
    lone = list(range(0, 3600, 3))
    builder.insert(60, f"k = 7 and ys all of {lone}")
    forest = builder.compile()

    n = 4000
    ks = rng.randint(0, 50, size=n).tolist()
    xs = [sorted(rng.randint(0, 100000, size=8).tolist()) for _ in range(n)]
    for i in range(0, 60, 3):  # plant rows that DO satisfy sub i
        ks[i] = i % 50
        xs[i] = sorted(rng.choice(wides[i], size=5, replace=False).tolist())
    ys = [sorted(rng.choice(3600, size=3, replace=False).tolist())
          for _ in range(n)]
    batch = event_batch(
        attrs, [{"k": k, "xs": x, "ys": y} for k, x, y in zip(ks, xs, ys)]
    )

    ev = BatchEvaluator(forest)
    # one member group per attribute: the xs leaves share one, and the
    # lone ys leaf forms its own
    groups = {
        g.attr_index: sorted(g.leaf_idxs) for g in ev.member_groups
    }
    for name in ("xs", "ys"):
        assert groups[attrs.index_of(name)] == [
            i for i, leaf in enumerate(forest.leaves) if leaf.attr_name == name
        ]
    assert ev.generic_leaves == []
    got = sorted(zip(*map(np.ndarray.tolist, ev.evaluate_arrow(batch))))
    want = sorted(
        (r, sub)
        for r, event in enumerate(batch.to_pylist())
        for sub in evaluate_event(forest, event)
    )
    assert got == want
    planted = {(i, i) for i in range(0, 60, 3)}
    assert planted <= set(got)


def _null_list_fixture():
    """(forest, batches): five subscriptions over a string list, an
    integer, a string, an integer list and a boolean, and one batch with
    null list elements, empty and null lists, plus the same batch with
    the string list's elements typed null (``list<null>``)."""
    import pyarrow as pa

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
    null_tags = batch.set_column(
        0, "tags", pa.array([[None], None, [], [None], [], [None, None]])
    )
    assert null_tags.schema.field("tags").type == pa.list_(pa.null())
    return builder.compile(), (batch, null_tags)


def _assert_equals_oracle(ev, forest, batch) -> None:
    want = sorted(
        (r, sub)
        for r, event in enumerate(batch.to_pylist())
        for sub in evaluate_event(forest, event)
    )
    got = sorted(zip(*map(np.ndarray.tolist, ev.evaluate_arrow(batch))))
    assert got == want and len(got) > 0


def test_evaluate_arrow_matches_oracle_on_null_and_empty_lists():
    """The Arrow path (the general matcher's hot path since round 3)
    must agree with the single-event oracle on every row, including a
    null list element, an empty list and a null list — also when the
    string list's elements are typed null (``list<null>``)."""
    forest, batches = _null_list_fixture()
    ev = BatchEvaluator(forest)
    for batch in batches:
        _assert_equals_oracle(ev, forest, batch)


@pytest.mark.parametrize("subs, n_groups, expected", [
    ({1: "nums one of [9007199254740992]",
      2: "nums all of [9007199254740992, 5]",
      3: "nums none of [9007199254740992]"}, 1, [(0, 3), (1, 3)]),
    ({1: "nums one of [9007199254740992]"}, 1, []),
], ids=["grouped", "lone"])
def test_integer_list_elements_stay_exact_beside_a_null(subs, n_groups, expected):
    """A null element in the batch must not turn integer list elements
    into float64, where 2**53 + 1 reads as the literal 2**53: a group
    of three leaves and a lone leaf's own group both equal the
    oracle."""
    import pyarrow as pa

    attrs = AttributeTable([A.integer_list("nums")])
    builder = ForestBuilder(attrs)
    for sub_id, expression in subs.items():
        builder.insert(sub_id, expression)
    forest = builder.compile()
    ev = BatchEvaluator(forest)
    assert len(ev.member_groups) == n_groups
    batch = pa.record_batch({
        "nums": pa.array([[2**53 + 1, None], [2**53 + 1]],
                         type=pa.list_(pa.int64())),
    })
    want = sorted(
        (r, sub)
        for r, event in enumerate(batch.to_pylist())
        for sub in evaluate_event(forest, event)
    )
    assert want == expected
    got = sorted(zip(*map(np.ndarray.tolist, ev.evaluate_arrow(batch))))
    assert got == want


def test_integer_list_literal_outside_int64_never_matches():
    """A list literal outside int64 is a null in the group's value set:
    the first batch does not overflow, no element (a null one neither)
    ever equals it, and all four list ops equal the oracle."""
    import pyarrow as pa

    big = "99999999999999999999"
    attrs = AttributeTable([A.integer_list("nums")])
    builder = ForestBuilder(attrs)
    for sub_id, expression in enumerate([
        f"nums one of [1, {big}]",
        f"nums none of [1, {big}]",
        f"nums all of [1, {big}]",
        f"not (nums all of [1, {big}])",  # NNF: not all of
        f"nums one of [{big}]",
    ], start=1):
        builder.insert(sub_id, expression)
    forest = builder.compile()
    ev = BatchEvaluator(forest)
    batch = pa.record_batch({
        "nums": pa.array([[1], [2], [1, None], None, [], [None], [1, 2]],
                         type=pa.list_(pa.int64())),
    })
    want = sorted(
        (r, sub)
        for r, event in enumerate(batch.to_pylist())
        for sub in evaluate_event(forest, event)
    )
    assert {sub for _, sub in want} == {1, 2, 3, 4}
    got = sorted(zip(*map(np.ndarray.tolist, ev.evaluate_arrow(batch))))
    assert got == want


def _tags_forest():
    """Selective integer access predicates guarding string-list
    ``all of`` / ``none of`` leaves over ``tags`` (one member group),
    and one lone wide ``all of`` over ``wide``, which forms its own
    group."""
    from a_tree_spark.expr import AttributeDefinition as A, AttributeTable

    attrs = AttributeTable([A.integer("k"), A.string_list("tags"),
                            A.string("s"), A.string_list("wide")])
    builder = ForestBuilder(attrs)
    for i in range(8):
        toks = ", ".join(f"'t{(i * 3 + j) % 12}'" for j in range(5))
        builder.insert(i, f"k = {i} and tags all of [{toks}]")
    builder.insert(8, "k = 2 and tags none of ['t1', 't3']")
    builder.insert(9, "k = 5 and s = 'q'")
    wide = ", ".join(f"'w{j}'" for j in range(0, 60, 2))
    builder.insert(10, f"k = 3 and wide all of [{wide}]")
    return builder.compile()


def _tags_batch(n, seed):
    """``n`` rows with null lists, empty lists and null elements."""
    import pyarrow as pa

    rng = random.Random(seed)

    def lists(vocab):
        out = []
        for _ in range(n):
            r = rng.random()
            if r < 0.08:
                out.append(None)
            elif r < 0.16:
                out.append([])
            else:
                row = rng.sample(vocab, rng.randint(1, 4))
                if rng.random() < 0.1:
                    row.insert(rng.randint(0, len(row)), None)
                out.append(row)
        return out

    tags = lists([f"t{i}" for i in range(12)])
    return pa.record_batch({
        "k": pa.array([rng.choice([None] + list(range(16))) for _ in range(n)],
                      type=pa.int64()),
        "tags": pa.array(tags, type=pa.list_(pa.string())),
        "s": pa.array([rng.choice(["q", "r", None]) for _ in range(n)]),
        "wide": pa.array(lists([f"w{i}" for i in range(40)]),
                         type=pa.list_(pa.string())),
    })


@pytest.mark.parametrize("n", [1, 63, 64, 65, 4095, 4097])
def test_pruned_equals_dense_on_string_list_lazy_leaves(n):
    """Grouped ``all of`` / ``none of`` string-list leaves beside a lone
    wide ``all of`` in its own group, through ``arrow_columns``: row counts
    around the 64-bit word and the partial last byte, with null lists,
    empty lists and null elements, must equal the single-event
    oracle."""
    forest = _tags_forest()
    ev = BatchEvaluator(forest)
    # the tags leaves sit in one member group; the lone wide leaf forms
    # its own
    ops = {
        forest.attributes.definition(g.attr_index).name:
            {forest.leaves[i].op.name for i in g.leaf_idxs}
        for g in ev.member_groups
    }
    assert ops["tags"] == {"ALL_OF", "NONE_OF"}
    assert ops["wide"] == {"ALL_OF"}

    batch = _tags_batch(n, seed=n)
    got = sorted(zip(*map(np.ndarray.tolist, ev.evaluate_arrow(batch))))
    want = sorted(
        (r, sub)
        for r, event in enumerate(batch.to_pylist())
        for sub in evaluate_event(forest, event)
    )
    assert got == want
    if n >= 64:
        assert want


def _list_group_forest():
    """``all of``, ``not all of``, ``one of`` and ``none of`` sharing
    one string-list and one integer-list attribute (one member group
    each), plus a lone wide ``all of`` over ``other`` that forms its
    own group."""
    attrs = AttributeTable([A.integer("k"), A.string_list("tags"),
                            A.integer_list("nums"), A.integer_list("other")])
    builder = ForestBuilder(attrs)
    for sub_id, expression in enumerate([
        "tags all of ['a']",
        "tags all of ['a', 'b']",
        "not (tags all of ['a', 'c'])",
        "tags one of ['a', 'c']",
        "tags none of ['b']",
        "k = 1 and tags all of ['b', 'c']",
        "k = 2 or not (tags all of ['b'])",
        "nums all of [1]",
        "nums all of [1, 2]",
        "not (nums all of [1, 3])",
        "nums one of [1, 3]",
        "nums none of [2]",
        "k = 1 and nums all of [2, 3]",
        f"k = 3 and other all of {list(range(0, 400, 2))}",
    ]):
        builder.insert(sub_id, expression)
    return builder.compile()


def _list_group_batch(n, seed):
    """Rows 0-7 plant a repeated element, a null list, an empty list, a
    null element alone and beside a member, and an element outside the
    vocabulary; the rest are random."""
    import pyarrow as pa

    rng = random.Random(seed)
    tags = [["a", "a"], None, [], [None], ["a", None], ["zzz"], ["a", "b"],
            ["b", "c", "b"]]
    nums = [[1, 1], None, [], [None], [1, None], [99], [1, 2], [2, 3, 2]]
    for _ in range(n - len(tags)):
        tags.append(rng.choice([None, [], [None]]) if rng.random() < 0.15
                    else [rng.choice(["a", "b", "c", "d", None])
                          for _ in range(rng.randint(1, 4))])
        nums.append(rng.choice([None, [], [None]]) if rng.random() < 0.15
                    else [rng.choice([1, 2, 3, 4, None])
                          for _ in range(rng.randint(1, 4))])
    return pa.record_batch({
        "k": pa.array([rng.choice([None, 1, 2, 3]) for _ in range(n)],
                      type=pa.int64()),
        "tags": pa.array(tags[:n], type=pa.list_(pa.string())),
        "nums": pa.array(nums[:n], type=pa.list_(pa.int64())),
        "other": pa.array([rng.sample(range(400), rng.randint(0, 3))
                           for _ in range(n)], type=pa.list_(pa.int64())),
    })


@pytest.mark.parametrize("n", [1, 63, 64, 65, 4095, 4097])
def test_list_member_group_equals_oracle(n):
    """The list member group evaluates ``all of`` / ``not all of`` /
    ``one of`` / ``none of`` leaves of one attribute together; on null
    lists, empty lists, null elements, repeated elements and elements
    outside every literal list it must equal the single-event oracle,
    at row counts around the 64-bit word."""
    forest = _list_group_forest()
    ev = BatchEvaluator(forest)
    attrs = forest.attributes
    grouped = {
        attrs.definition(g.attr_index).name:
            {forest.leaves[i].op.name for i in g.leaf_idxs}
        for g in ev.member_groups
    }
    ops = {"ALL_OF", "NOT_ALL_OF", "ONE_OF", "NONE_OF"}
    assert grouped == {
        "tags": ops, "nums": ops, "other": {"ALL_OF"}, "k": {"EQ"},
    }
    assert ev.generic_leaves == []

    batch = _list_group_batch(n, seed=n)
    got = sorted(zip(*map(np.ndarray.tolist, ev.evaluate_arrow(batch))))
    want = sorted(
        (r, sub)
        for r, event in enumerate(batch.to_pylist())
        for sub in evaluate_event(forest, event)
    )
    assert got == want and len(want) > 0


def _equality_forest():
    """``=`` / ``<>`` / ``in`` / ``not in`` leaves: one lone ``s = 'q'``,
    a string attribute mixing all four (``'zz'`` is in no batch), an
    integer attribute mixing ``=`` with ``in`` (one literal outside
    int64), and a FLOAT ``=`` / ``<>``, which stays generic."""
    attrs = AttributeTable([A.string("s"), A.string("c"), A.integer("n"),
                            A.float("f")])
    builder = ForestBuilder(attrs)
    for sub_id, expression in enumerate([
        "s = 'q'",
        "c = 'a'",
        "c <> 'b' and n = 3",
        "c in ['a', 'zz']",
        "c not in ['b', 'c']",
        "c = 'zz' or c <> 'a'",
        "n in [1, 3, 5]",
        "n = 2 or n = 99999999999999999999",
        "not (n in [2, 4]) and s = 'q'",
        "f = 1.5",
        "f <> 2.25 and c = 'c'",
        "f = 1.0000001",
    ]):
        builder.insert(sub_id, expression)
    return builder.compile()


@pytest.mark.parametrize("int_type, str_type", [
    ("int64", "string"), ("int32", "large_string"), ("int16", "large_string"),
])
@pytest.mark.parametrize("n", [1, 63, 64, 65, 4097])
def test_equality_leaves_share_one_group_per_attribute(n, int_type, str_type):
    """Every non-FLOAT ``=`` / ``<>`` / ``in`` / ``not in`` leaf sits in
    its attribute's member group, a lone ``s = 'q'`` included, and only
    the FLOAT leaves evaluate per leaf. On null strings, a literal
    absent from the batch, an integer literal outside int64 and an
    all-null string column the evaluator equals the single-event oracle,
    also when the integer column is int32 or int16 (the fused kernel's
    ``n_tokens`` is int32) and the string columns are ``large_string``:
    every grouped column is coded into its group's int64 or string
    value set."""
    import pyarrow as pa

    forest = _equality_forest()
    ev = BatchEvaluator(forest)
    attrs = forest.attributes
    grouped = {
        attrs.definition(g.attr_index).name:
            {forest.leaves[i].op.name for i in g.leaf_idxs}
        for g in ev.member_groups
    }
    assert grouped == {
        "s": {"EQ"}, "c": {"EQ", "NE", "IN", "NOT_IN"}, "n": {"EQ", "IN", "NOT_IN"},
    }
    generic = ev.generic_leaves
    assert {leaf.attr_name for leaf in generic} == {"f"}
    assert all(isinstance(leaf.operand, Decimal) for leaf in generic)

    rng = random.Random(n)
    batch = event_batch(attrs, [
        {
            "s": rng.choice(["q", "r", None]),
            "c": rng.choice(["a", "b", "c", "d", None]),
            "n": rng.choice([None, 1, 2, 3, 4, 5, 6]),
            "f": rng.choice([None, Decimal("1.5"), Decimal("2.25"),
                             Decimal("1.0000001"), Decimal("0.5")]),
        }
        for _ in range(n)
    ])
    for name, column_type in (("s", str_type), ("c", str_type), ("n", int_type)):
        i = batch.schema.get_field_index(name)
        batch = batch.set_column(
            i, name, batch.column(i).cast(getattr(pa, column_type)())
        )
    all_null_s = batch.set_column(0, "s", pa.nulls(n, getattr(pa, str_type)()))
    for b in (batch, all_null_s):
        want = sorted(
            (r, sub)
            for r, event in enumerate(b.to_pylist())
            for sub in evaluate_event(forest, normalize_event(attrs, event))
        )
        got = sorted(zip(*map(np.ndarray.tolist, ev.evaluate_arrow(b))))
        assert got == want
        if n >= 64:
            assert want


def test_float_decimals_round_half_up_at_scale_six():
    """FLOAT decimals finer than scale 6 round ties away from zero, as
    ``normalize_event`` (ROUND_HALF_UP) does — on negative ties too,
    where Arrow's "half_up" (toward +inf) would differ: -0.0000005
    must become -0.000001, not 0."""
    import pyarrow as pa

    attrs = AttributeTable([A.float("f")])
    builder = ForestBuilder(attrs)
    for sub_id, expression in enumerate([
        "f < 0.0", "f >= 0.0", "f = 0.0", "f > 0.0",
        "f = 1.234568", "f > 1.234567", "f <= 1.234567", "f = 1.234567",
    ]):
        builder.insert(sub_id, expression)
    forest = builder.compile()
    events = [
        {"f": Decimal(v)}
        for v in ["-0.0000005", "-1.2345675", "1.2345675", "0.0000005",
                  "1.2345665", "-0.0000004", "2"]
    ] + [{"f": None}]
    batch = pa.record_batch(
        [pa.array([e["f"] for e in events], type=pa.decimal128(12, 7))],
        names=["f"],
    )
    got = sorted(zip(*map(np.ndarray.tolist,
                          BatchEvaluator(forest).evaluate_arrow(batch))))
    want = sorted(
        (r, sub)
        for r, event in enumerate(events)
        for sub in evaluate_event(forest, normalize_event(attrs, event))
    )
    assert got == want
    assert (0, 0) in got  # -0.0000005 -> -0.000001 < 0


def test_unsupported_arrow_column_type_raises():
    """A float64 column for a FLOAT attribute has no exact scale-6
    reading; it must fail loudly instead of truncating 1.5 to 1."""
    import pyarrow as pa

    builder = ForestBuilder(AttributeTable([A.float("f")]))
    builder.insert(1, "f > 1.234567")
    ev = BatchEvaluator(builder.compile())
    with pytest.raises(TypeError, match="float.*double"):
        ev._scalar_from_arrow(pa.array([1.5]), AttributeKind.FLOAT)
    with pytest.raises(TypeError, match="float.*double"):
        ev.evaluate_arrow(pa.record_batch({"f": pa.array([1.5])}))


def test_pickled_evaluator_carries_no_parse_memo():
    """Parsing fills a memo on the attribute table, and tables are
    shared by every forest over them; an evaluator's pickle (what a
    broadcast ships) must not grow with what else was parsed, and an
    unpickled table must still parse."""
    import pickle

    from a_tree_spark.expr.parser import parse

    attrs = attributes()
    builder = ForestBuilder(attrs)
    builder.insert(1, "exchange_id = 1 and deals all of ['deal-1', 'deal-2']")
    builder.insert(2, "country in ['US', 'CA'] or price > 7")
    forest = builder.compile()
    ev = BatchEvaluator(forest)
    before = len(pickle.dumps(ev))
    for i in range(1000):
        parse(f"price > {i} and segment_ids one of [{i}, {i + 1}]", attrs)
    assert len(pickle.dumps(ev)) == before

    table = pickle.loads(pickle.dumps(forest.attributes))
    tree = parse("city = 'NY' and deals none of ['deal-3']", table)
    assert tree.optimize().left.predicate.attr_name == "city"


def test_pickled_plan_ships_no_forest():
    """The broadcast plan keeps only what evaluation reads: its pickle
    holds no CompiledForest and no predicate of a member-group leaf
    (only the generic leaves' ones), it pickles to the same bytes
    before and after it evaluates a batch (its sweep buffers and value
    sets stay in the process), and an unpickled plan equals the
    single-event oracle."""
    import io
    import pickle

    from a_tree_spark.expr.ast import Predicate
    from a_tree_spark.expr.compiler import CompiledForest

    forest, batches = _null_list_fixture()
    ev = BatchEvaluator(forest)
    assert not hasattr(ev, "forest")

    reduced = []

    class Recorder(pickle.Pickler):
        def reducer_override(self, obj):
            reduced.append(obj)
            return NotImplemented

    Recorder(io.BytesIO()).dump(ev)
    assert reduced and not any(isinstance(o, CompiledForest) for o in reduced)
    shipped = [o for o in reduced if isinstance(o, Predicate)]
    grouped = [forest.leaves[i] for g in ev.member_groups for i in g.leaf_idxs]
    assert grouped and ev.generic_leaves
    assert sorted(map(id, shipped)) == sorted(map(id, ev.generic_leaves))
    assert not any(p in grouped for p in shipped)

    before = pickle.dumps(ev)
    for batch in batches:
        ev.evaluate_arrow(batch)
    assert pickle.dumps(ev) == before

    shipped_ev = pickle.loads(before)
    for batch in batches:
        _assert_equals_oracle(shipped_ev, forest, batch)
