"""Ported AST/NNF tests (reference src/ast.rs:101-364): De Morgan
recursion, double negation, leaf negation, and the node sharing the
reference gets from its commutative hash (src/ast.rs:30-54), which the
compiler gives by keying each node on (op, child, child)."""

import os
import subprocess
import sys
from pathlib import Path

import pytest

from a_tree_spark.expr import (
    AttributeDefinition as A,
    AttributeTable,
    ForestBuilder,
    Op,
    parse,
)


@pytest.fixture
def attributes():
    return AttributeTable([
        A.boolean("a"), A.boolean("b"), A.boolean("c"),
        A.integer("price"), A.integer_list("ids"),
    ])


def shape(node):
    if node.tag == "value":
        return ("leaf", node.predicate.attr_name, node.predicate.op.value)
    return (node.tag, shape(node.left), shape(node.right))


def test_not_of_and_becomes_or_of_negations(attributes):
    # ¬(a ∧ b) => ¬a ∨ ¬b (src/ast.rs De Morgan)
    nnf = parse("not (a and b)", attributes).optimize()
    assert shape(nnf) == ("or", ("leaf", "a", "nvar"), ("leaf", "b", "nvar"))


def test_not_of_or_becomes_and_of_negations(attributes):
    nnf = parse("not (a or b)", attributes).optimize()
    assert shape(nnf) == ("and", ("leaf", "a", "nvar"), ("leaf", "b", "nvar"))


def test_double_negation_cancels(attributes):
    nnf = parse("not not a", attributes).optimize()
    assert shape(nnf) == ("leaf", "a", "var")
    nnf = parse("not (not (a and b))", attributes).optimize()
    assert shape(nnf) == ("and", ("leaf", "a", "var"), ("leaf", "b", "var"))


def test_negation_pushes_through_nested_tree(attributes):
    # ¬((a ∧ b) ∨ c) => (¬a ∨ ¬b) ∧ ¬c
    nnf = parse("not ((a and b) or c)", attributes).optimize()
    assert shape(nnf) == (
        "and",
        ("or", ("leaf", "a", "nvar"), ("leaf", "b", "nvar")),
        ("leaf", "c", "nvar"),
    )


def test_leaf_negation_flips_operator(attributes):
    cases = [
        ("not price < 5", Op.GE),
        ("not price <= 5", Op.GT),
        ("not price = 5", Op.NE),
        ("not price in [1, 2]", Op.NOT_IN),
        ("not ids one of [1]", Op.NONE_OF),
        ("not ids all of [1]", Op.NOT_ALL_OF),
        ("not price is null", Op.IS_NOT_NULL),
        ("not ids is empty", Op.IS_NOT_EMPTY),
    ]
    for text, op in cases:
        nnf = parse(text, attributes).optimize()
        assert nnf.tag == "value" and nnf.predicate.op is op, text


def _root(builder, sub_id):
    forest = builder.compile()
    return forest.sub_roots[forest.sub_ids.tolist().index(sub_id)]


def test_commutative_hash_equality(attributes):
    # a ∧ b and b ∧ a are one node; and/or stay distinct (src/ast.rs:312-345)
    builder = ForestBuilder(attributes)
    builder.insert("ab", parse("a and b", attributes).optimize())
    builder.insert("ba", parse("b and a", attributes).optimize())
    builder.insert("a_or_b", parse("a or b", attributes).optimize())
    assert _root(builder, "ab") == _root(builder, "ba")
    assert _root(builder, "ab") != _root(builder, "a_or_b")
    assert builder.live_node_count == 4  # two leaves, one AND, one OR


_FOREST_SCRIPT = """
from a_tree_spark.expr import AttributeDefinition as A, compile_forest
attrs = [A.boolean("a"), A.boolean("b"), A.boolean("c"),
         A.integer("price"), A.integer_list("ids")]
forest = compile_forest(attrs, {
    1: "a and b", 2: "b and a", 3: "price = 5 or (c and ids one of [2, 1])",
    4: "not (a or price in [3, 1, 2])", 5: "price = 5",
})
print((forest.node_kind.tolist(), forest.node_left.tolist(),
       forest.node_right.tolist(), forest.node_level.tolist(),
       forest.sub_ids.tolist(), forest.sub_roots.tolist(),
       [leaf.key() for leaf in forest.leaves]))
"""


def test_hash_stability_across_processes():
    # node ids do not depend on the process (builtin hash() is salted
    # per process): deployment checkpoints key on them
    root = str(Path(__file__).resolve().parents[1])
    outputs = set()
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed, PYTHONPATH=root)
        outputs.add(subprocess.run(
            [sys.executable, "-c", _FOREST_SCRIPT], env=env, cwd=root,
            capture_output=True, text=True, check=True, timeout=120,
        ).stdout)
    assert len(outputs) == 1


def test_equivalent_literal_spellings_share_leaves(attributes):
    # sorted+deduped lists give one leaf, so one node
    builder = ForestBuilder(attributes)
    builder.insert("x", parse("price in [3, 1, 2]", attributes).optimize())
    builder.insert("y", parse("price in [2, 3, 1, 1]", attributes).optimize())
    assert _root(builder, "x") == _root(builder, "y")
    assert builder.live_node_count == 1
    assert len(builder.compile().leaves) == 1
