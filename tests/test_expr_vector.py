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
    shape: one expression with a long list) stays a generic leaf.
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
    # the xs leaves are one member group; the lone ys leaf is generic
    xs_leaves = [i for i, leaf in enumerate(forest.leaves)
                 if leaf.attr_name == "xs"]
    assert [sorted(g.leaf_idxs) for g in ev.member_groups] == [xs_leaves]
    assert "ys" in [forest.leaves[i].attr_name for i in ev.generic_leaves]
    got = sorted(zip(*map(np.ndarray.tolist, ev.evaluate_arrow(batch))))
    want = sorted(
        (r, sub)
        for r, event in enumerate(batch.to_pylist())
        for sub in evaluate_event(forest, event)
    )
    assert got == want
    planted = {(i, i) for i in range(0, 60, 3)}
    assert planted <= set(got)


def test_evaluate_arrow_matches_oracle_on_null_and_empty_lists():
    """The Arrow path (the general matcher's hot path since round 3)
    must agree with the single-event oracle on every row, including a
    null list element, an empty list and a null list — also when the
    string list's elements are typed null (``list<null>``)."""
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
    null_tags = batch.set_column(
        0, "tags", pa.array([[None], None, [], [None], [], [None, None]])
    )
    assert null_tags.schema.field("tags").type == pa.list_(pa.null())
    for b in (batch, null_tags):
        want = sorted(
            (r, sub)
            for r, event in enumerate(b.to_pylist())
            for sub in evaluate_event(ev.forest, event)
        )
        got = sorted(zip(*map(np.ndarray.tolist, ev.evaluate_arrow(b))))
        assert got == want and len(got) > 0


@pytest.mark.parametrize("subs, n_groups, expected", [
    ({1: "nums one of [9007199254740992]",
      2: "nums all of [9007199254740992, 5]",
      3: "nums none of [9007199254740992]"}, 1, [(0, 3), (1, 3)]),
    ({1: "nums one of [9007199254740992]"}, 0, []),
], ids=["grouped", "lone"])
def test_integer_list_elements_stay_exact_beside_a_null(subs, n_groups, expected):
    """A null element in the batch must not turn integer list elements
    into float64, where 2**53 + 1 reads as the literal 2**53: the
    member group and a lone generic leaf both equal the oracle."""
    import pyarrow as pa

    attrs = AttributeTable([A.integer_list("nums")])
    builder = ForestBuilder(attrs)
    for sub_id, expression in subs.items():
        builder.insert(sub_id, expression)
    ev = BatchEvaluator(builder.compile())
    assert len(ev.member_groups) == n_groups
    batch = pa.record_batch({
        "nums": pa.array([[2**53 + 1, None], [2**53 + 1]],
                         type=pa.list_(pa.int64())),
    })
    want = sorted(
        (r, sub)
        for r, event in enumerate(batch.to_pylist())
        for sub in evaluate_event(ev.forest, event)
    )
    assert want == expected
    got = sorted(zip(*map(np.ndarray.tolist, ev.evaluate_arrow(batch))))
    assert got == want


def _tags_forest():
    """Selective integer access predicates guarding string-list
    ``all of`` / ``none of`` leaves over ``tags`` (one member group),
    and one lone wide ``all of`` over ``wide``, which stays out of any
    group, so it is generic."""
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
    generic wide ``all of``, through ``arrow_columns``: row counts
    around the 64-bit word and the partial last byte, with null lists,
    empty lists and null elements, must equal the single-event
    oracle."""
    forest = _tags_forest()
    ev = BatchEvaluator(forest)
    # the tags leaves sit in one member group; the lone wide leaf is generic
    tags = forest.attributes.index_of("tags")
    assert [
        {forest.leaves[i].op.name for i in g.leaf_idxs}
        for g in ev.member_groups if g.attr_index == tags
    ] == [{"ALL_OF", "NONE_OF"}]
    generic = [forest.leaves[i] for i in ev.generic_leaves]
    assert ("wide", "ALL_OF") in [(leaf.attr_name, leaf.op.name) for leaf in generic]

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
    each), plus a lone wide ``all of`` over ``other`` that stays
    generic."""
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
    assert grouped == {"tags": ops, "nums": ops}
    assert "other" in [forest.leaves[i].attr_name for i in ev.generic_leaves]

    batch = _list_group_batch(n, seed=n)
    got = sorted(zip(*map(np.ndarray.tolist, ev.evaluate_arrow(batch))))
    want = sorted(
        (r, sub)
        for r, event in enumerate(batch.to_pylist())
        for sub in evaluate_event(forest, event)
    )
    assert got == want and len(want) > 0


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
    ev = BatchEvaluator(builder.compile())
    before = len(pickle.dumps(ev))
    for i in range(1000):
        parse(f"price > {i} and segment_ids one of [{i}, {i + 1}]", attrs)
    assert len(pickle.dumps(ev)) == before

    table = pickle.loads(pickle.dumps(ev)).forest.attributes
    tree = parse("city = 'NY' and deals none of ['deal-3']", table)
    assert tree.optimize().left.predicate.attr_name == "city"
