"""Ported predicate truth tables + end-to-end A-Tree tests, run against
the single-node oracle matcher.

Sources: /root/reference/src/predicates.rs:547-1420 (operator semantics
incl. empty-list and Undefined cases), src/atree.rs:884-1393 (insert /
search / delete integration), examples/search.rs (README scenario).
"""

from decimal import Decimal

import pytest

from a_tree_spark.expr import (
    ATreeMatcher,
    AttributeDefinition as A,
    AttributeTable,
    DuplicateAttribute,
    Op,
    WrongType,
    evaluate_leaf,
    make_predicate,
    parse,
)
from a_tree_spark.expr.oracle import FALSE, TRUE, UNKNOWN


@pytest.fixture
def attributes():
    # src/atree.rs:1099-1107
    return AttributeTable([
        A.boolean("private"),
        A.integer("exchange_id"),
        A.string_list("deal_ids"),
        A.string_list("deals"),
        A.integer_list("segment_ids"),
        A.string("country"),
        A.string("city"),
        A.float("bidfloor"),
    ])


# ------------------------------------------------ leaf truth tables


def ev(attributes, expr_text, value, attr="exchange_id"):
    predicate = parse(expr_text, attributes).predicate
    return evaluate_leaf(predicate, value)


def test_undefined_yields_unknown_for_all_non_null_ops(attributes):
    # src/predicates.rs:53, test :1148-1159
    cases = [
        ("exchange_id = 1", None),
        ("exchange_id <> 1", None),
        ("exchange_id < 1", None),
        ("exchange_id in [1, 2]", None),
        ("exchange_id not in [1, 2]", None),
        ("segment_ids one of [1]", None),
        ("segment_ids none of [1]", None),
        ("segment_ids all of [1]", None),
        ("private", None),
        ("not private", None),
    ]
    for text, value in cases:
        node = parse(text, attributes).optimize()
        assert node.tag == "value"
        assert evaluate_leaf(node.predicate, value) == UNKNOWN, text


def test_null_operators_are_total(attributes):
    # null checks return plain true/false even on Undefined
    # (src/predicates.rs:52,472-502)
    assert ev(attributes, "exchange_id is null", None) == TRUE
    assert ev(attributes, "exchange_id is null", 5) == FALSE
    assert ev(attributes, "exchange_id is not null", None) == FALSE
    assert ev(attributes, "exchange_id is not null", 5) == TRUE
    assert ev(attributes, "segment_ids is empty", []) == TRUE
    assert ev(attributes, "segment_ids is empty", [1]) == FALSE
    assert ev(attributes, "segment_ids is not empty", []) == FALSE
    assert ev(attributes, "segment_ids is not empty", [1]) == TRUE


def test_one_of_empty_event_list_is_false(attributes):
    # both-empty/either-empty -> false (src/predicates.rs:404-406,
    # tests :1033-1058)
    assert ev(attributes, "segment_ids one of [1, 2]", []) == FALSE
    assert ev(attributes, "segment_ids one of [1, 2]", [3, 4]) == FALSE
    assert ev(attributes, "segment_ids one of [1, 2]", [2, 9]) == TRUE
    assert ev(attributes, "segment_ids none of [1, 2]", []) == TRUE
    assert ev(attributes, "segment_ids none of [1, 2]", [2]) == FALSE


def test_all_of_direction_event_subset_of_literal(attributes):
    # left = event value ⊆ literal list (src/predicates.rs:363-367,434-461)
    assert ev(attributes, "segment_ids all of [1, 2, 3]", [1, 2]) == TRUE
    assert ev(attributes, "segment_ids all of [1, 2, 3]", [1, 2, 3, 4]) == FALSE
    assert ev(attributes, "segment_ids all of [1, 2]", []) == TRUE  # empty -> true
    assert ev(attributes, "segment_ids all of [1, 2]", [3]) == FALSE


def test_comparison_and_equality(attributes):
    assert ev(attributes, "exchange_id < 5", 4) == TRUE
    assert ev(attributes, "exchange_id < 5", 5) == FALSE
    assert ev(attributes, "exchange_id <= 5", 5) == TRUE
    assert ev(attributes, "exchange_id > 5", 6) == TRUE
    assert ev(attributes, "exchange_id >= 5", 5) == TRUE
    assert ev(attributes, "exchange_id = 5", 5) == TRUE
    assert ev(attributes, "exchange_id <> 5", 5) == FALSE
    assert ev(attributes, "exchange_id in [1, 5]", 5) == TRUE
    assert ev(attributes, "exchange_id not in [1, 5]", 5) == FALSE


def test_decimal_comparisons_are_exact(attributes):
    assert ev(attributes, "bidfloor >= 1.5", Decimal("1.5")) == TRUE
    assert ev(attributes, "bidfloor > 1.5", Decimal("1.500001")) == TRUE
    assert ev(attributes, "bidfloor > 1.5", Decimal("1.5")) == FALSE
    assert ev(attributes, "bidfloor = 1.50", Decimal("1.5")) == TRUE


def test_negation_involution_per_operator(attributes):
    # ¬p(e) == !p(e) for every operator (src/predicates.rs:1161-1420)
    samples = [
        ("exchange_id = 1", [1, 2, None]),
        ("exchange_id < 3", [2, 3, 4, None]),
        ("exchange_id <= 3", [2, 3, 4, None]),
        ("exchange_id in [1, 2]", [1, 3, None]),
        ("segment_ids one of [1, 2]", [[1], [3], [], None]),
        ("segment_ids all of [1, 2]", [[1], [3], [], None]),
        ("exchange_id is null", [1, None]),
        ("segment_ids is empty", [[], [1]]),
        ("private", [True, False, None]),
    ]
    for text, events in samples:
        predicate = parse(text, attributes).predicate
        negated = predicate.negate()
        assert negated.negate() == predicate  # involution
        for value in events:
            result = evaluate_leaf(predicate, value)
            neg_result = evaluate_leaf(negated, value)
            if result == UNKNOWN:
                assert neg_result == UNKNOWN, (text, value)
            else:
                assert neg_result == (FALSE if result == TRUE else TRUE), (text, value)


# ------------------------------------------------ end-to-end matcher

A_COMPLEX_EXPRESSION = (
    "exchange_id = 1 and not private and deal_ids one of [\"deal-1\", \"deal-2\"] "
    "and segment_ids one of [1, 2, 3] and country = 'CA' and city in ['QC'] "
    "or country = 'US' and city in ['AZ']"
)
AND_EXPRESSION = 'exchange_id = 1 and deals one of ["deal-1", "deal-2"]'
OR_EXPRESSION = 'exchange_id = 1 or deals one of ["deal-1", "deal-2"]'


def definitions():
    return [
        A.boolean("private"),
        A.integer("exchange_id"),
        A.string_list("deal_ids"),
        A.string_list("deals"),
        A.integer_list("segment_ids"),
        A.string("country"),
        A.string("city"),
    ]


def test_duplicate_attributes_rejected():
    # src/events.rs:353-365
    with pytest.raises(DuplicateAttribute):
        AttributeTable([A.boolean("a"), A.integer("a")])


def test_search_empty_tree():
    # src/atree.rs:1098-1117
    matcher = ATreeMatcher(definitions())
    assert matcher.search({"private": False}) == []


def test_search_single_predicate():
    # src/atree.rs:1119-1139
    matcher = ATreeMatcher(definitions())
    matcher.insert(1, "private")
    assert matcher.search({"private": True}) == [1]


def test_ignore_results_that_are_not_matched():
    # src/atree.rs:1141-1164
    matcher = ATreeMatcher(definitions())
    matcher.insert(1, "private")
    matcher.insert(2, A_COMPLEX_EXPRESSION)
    assert matcher.search({"private": False}) == []


def test_search_simple_expressions():
    # src/atree.rs:1166-1186: "private" + "not private", private=true -> {1}
    matcher = ATreeMatcher(definitions())
    matcher.insert(1, "private")
    matcher.insert(2, "not private")
    assert matcher.search({"private": True}) == [1]


def test_can_search_complex_expressions():
    # src/atree.rs:1188-1220 -> matches {2, 3}
    matcher = ATreeMatcher(definitions())
    matcher.insert(1, A_COMPLEX_EXPRESSION)
    matcher.insert(2, AND_EXPRESSION)
    matcher.insert(3, OR_EXPRESSION)
    event = {
        "exchange_id": 1,
        "private": True,
        "deal_ids": ["deal-1", "deal-2"],
        "deals": ["deal-1", "deal-2"],
        "segment_ids": [2, 3],
        "country": "FR",
    }
    assert matcher.search(event) == [2, 3]


def test_shared_sub_expressions():
    # src/atree.rs:1222-1267 -> matches {1, 2, 3}
    matcher = ATreeMatcher([
        A.boolean("private"),
        A.integer("exchange_id"),
        A.string_list("deals"),
        A.integer_list("segment_ids"),
        A.string("country"),
        A.string("city"),
    ])
    matcher.insert(1, 'exchange_id = 1 and not private and deals one of ["deal-1", "deal-2"]')
    matcher.insert(2, 'exchange_id = 1 and not private and deals one of ["deal-2", "deal-3"]')
    matcher.insert(3, 'exchange_id = 1 and not private and deals one of ["deal-2", "deal-3"] '
                      'and segment_ids one of [1, 2, 3, 4]')
    matcher.insert(4, 'exchange_id = 1 and not private and deals one of ["deal-2", "deal-3"] '
                      'and segment_ids one of [5, 6, 7, 8] and country in ["CA", "US"]')
    event = {
        "private": False,
        "exchange_id": 1,
        "deals": ["deal-1", "deal-3"],
        "segment_ids": [2, 3],
        "country": "CA",
    }
    assert matcher.search(event) == [1, 2, 3]


def test_example_search_scenario():
    # examples/search.rs:4-50 -> matches {2, 3, 4}
    matcher = ATreeMatcher([
        A.integer("exchange_id"),
        A.string_list("deal_ids"),
        A.integer_list("segment_ids"),
        A.string("country"),
        A.string("city"),
    ])
    matcher.insert(1, "exchange_id = 1 and deal_ids one of ['deal-1', 'deal-2'] "
                      "and segment_ids one of [1, 2, 3] and country in ['FR', 'GB']")
    matcher.insert(2, "(exchange_id = 1 and deal_ids one of ['deal-1', 'deal-2']) "
                      "and segment_ids one of [1, 2, 3] and ((country = 'CA' and city in ['QC']) "
                      "or (country = 'US' and city in ['AZ']))")
    matcher.insert(3, "(exchange_id = 1 and deal_ids one of ['deal-1', 'deal-2']) "
                      "and segment_ids one of [1, 2, 3] and ((country = 'CA' and city in ['QC']) "
                      "or (country = 'US'))")
    matcher.insert(4, "exchange_id = 1 and deal_ids one of ['deal-1', 'deal-2'] "
                      "and segment_ids one of [1, 2, 3]")
    event = {
        "exchange_id": 1,
        "deal_ids": ["deal-3", "deal-1"],
        "segment_ids": [3, 4, 5],
        "country": "US",
        "city": "AZ",
    }
    assert matcher.search(event) == [2, 3, 4]


def test_delete_single_predicate():
    # src/atree.rs:1269-1287
    matcher = ATreeMatcher([A.boolean("private")])
    matcher.insert(1, "private")
    assert matcher.search({"private": True}) == [1]
    matcher.delete(1)
    assert matcher.search({"private": True}) == []


def test_delete_keeps_shared_expression():
    # src/atree.rs:1289-1321
    matcher = ATreeMatcher(definitions())
    matcher.insert(1, "private or exchange_id = 1")
    matcher.insert(2, 'private or exchange_id = 1 or deal_ids one of ["deal-1", "deal-2"]')
    assert matcher.search({"exchange_id": 1}) == [1, 2]
    matcher.delete(1)
    assert matcher.search({"exchange_id": 1}) == [2]


def test_delete_one_of_two_ids_on_same_expression():
    # src/atree.rs:1323-1348 — duplicate expressions share one node
    matcher = ATreeMatcher([A.boolean("private"), A.integer("exchange_id")])
    matcher.insert(1, "private or exchange_id = 1")
    matcher.insert(2, "private or exchange_id = 1")
    forest = matcher.compile()
    # both ids attach to ONE root node (src/atree.rs:1001-1014)
    assert len(set(forest.sub_roots.tolist())) == 1
    assert matcher.search({"exchange_id": 1}) == [1, 2]
    matcher.delete(1)
    assert matcher.search({"exchange_id": 1}) == [2]
    matcher.delete(2)
    assert matcher.search({"exchange_id": 1}) == []


def test_graphviz_non_empty():
    # src/atree.rs:1373-1392
    matcher = ATreeMatcher(definitions())
    matcher.insert(1, "private or exchange_id = 1")
    matcher.insert(2, 'private or exchange_id = 1 or deal_ids one of ["deal-1", "deal-2"]')
    assert matcher.to_graphviz()


def test_kleene_false_and_unknown_is_false(attributes_=None):
    # AND(false, unknown) = false so missing city still rejects the AND arm
    matcher = ATreeMatcher(definitions())
    matcher.insert(1, "private and city = 'QC'")
    matcher.insert(2, "not private and city = 'QC'")
    matcher.insert(3, "private or city = 'QC'")
    # private=true, city undefined: 1 -> unknown, 2 -> false, 3 -> true
    assert matcher.search({"private": True}) == [3]


def test_event_type_checking():
    matcher = ATreeMatcher(definitions())
    matcher.insert(1, "private")
    with pytest.raises(WrongType):
        matcher.search({"private": 1})
    with pytest.raises(WrongType):
        matcher.search({"exchange_id": "x"})


def _subs_by_root(forest) -> list:
    """Each root's subscription ids in insertion order, roots sorted by
    those lists."""
    subs: dict[int, list] = {}
    for sub, root in zip(forest.sub_ids.tolist(), forest.sub_roots.tolist()):
        subs.setdefault(root, []).append(sub)
    return sorted(subs.values())


def test_cse_shares_leaves_and_interior_nodes():
    # a node is identified by (op, child, child) once its children are
    # shared: "a and b" == "b and a", and/or stay distinct
    # (src/ast.rs:312-345)
    matcher = ATreeMatcher([
        A.boolean("a"), A.boolean("b"), A.integer("price"), A.float("f"),
    ])
    matcher.insert(1, "a and b")
    matcher.insert(2, "b and a")
    forest = matcher.compile()
    assert forest.num_nodes == 3  # two leaves + one shared AND
    assert _subs_by_root(forest) == [[1, 2]]
    matcher.insert(3, "a or b")
    forest = matcher.compile()
    assert forest.num_nodes == 4  # a new OR over the same two leaves
    assert _subs_by_root(forest) == [[1, 2], [3]]
    # sorted+deduped lists and normalized decimals give one leaf
    matcher.insert(4, "price in [3, 1, 2]")
    matcher.insert(5, "price in [2, 3, 1, 1]")
    matcher.insert(6, "f = 5.0")
    matcher.insert(7, "f = 5.00")
    forest = matcher.compile()
    assert len(forest.leaves) == forest.num_nodes - 2 == 4
    assert _subs_by_root(forest) == [[1, 2], [3], [4, 5], [6, 7]]
