"""Parity against the reference's own bench fixture
(/root/reference/benches/data/search.json: 7-attribute schema, 9 large
expressions incl. ~3600-element lists, 2 events — FIXTURES.md F6.5).

The fixture stays in the read-only reference checkout (we don't copy
reference content into this repo); the test skips when it's absent so
the repo remains standalone. Outcomes are cross-checked three ways:
single-node oracle == vectorized batch evaluator == Spark matcher.
"""

import json
import os

import pytest

FIXTURE = "/root/reference/benches/data/search.json"

pytestmark = pytest.mark.skipif(
    not os.path.exists(FIXTURE), reason="reference fixture not available"
)


def load():
    from a_tree_spark.expr import AttributeDefinition as A, AttributeTable

    data = json.load(open(FIXTURE))
    kind_map = {
        "string": A.string, "integer": A.integer, "boolean": A.boolean,
        "string_list": A.string_list, "integer_list": A.integer_list,
        "float": A.float,
    }
    attributes = AttributeTable([
        kind_map[kind](name) for name, kind in sorted(data["attributes"].items())
    ])
    expressions = {e["id"]: e["expression"] for e in data["expressions"]}
    return attributes, expressions, data["events"]


def test_fixture_parses_and_matches_consistently():
    from a_tree_spark.expr import ForestBuilder, evaluate_event, normalize_event
    from a_tree_spark.expr.vector import BatchEvaluator
    from tests.conftest import event_batch

    attributes, expressions, events = load()
    builder = ForestBuilder(attributes)
    for sub_id, expression in expressions.items():
        builder.insert(sub_id, expression)  # all 9 parse (incl. 29KB one)
    forest = builder.compile()

    # single-node oracle outcomes
    oracle = [
        set(evaluate_event(forest, normalize_event(attributes, e)))
        for e in events
    ]

    # vectorized outcomes on the same two rows
    rows, subs = BatchEvaluator(forest).evaluate_arrow(
        event_batch(attributes, events)
    )
    vectorized = [set() for _ in events]
    for row, sub in zip(rows.tolist(), subs.tolist()):
        vectorized[row].add(sub)
    assert vectorized == oracle


def test_fixture_spark_matcher_agrees(spark):
    from a_tree_spark.engine.matcher import match_events
    from a_tree_spark.expr import ForestBuilder, evaluate_event, normalize_event

    attributes, expressions, events = load()
    builder = ForestBuilder(attributes)
    for sub_id, expression in expressions.items():
        builder.insert(sub_id, expression)
    forest = builder.compile()

    schema = ", ".join(
        ["event_id bigint"]
        + [f"{d.name} {d.kind.spark_type}" for d in attributes]
    )
    df = spark.createDataFrame(
        [tuple([i] + [e.get(d.name) for d in attributes])
         for i, e in enumerate(events)],
        schema,
    )
    got: dict[int, set] = {i: set() for i in range(len(events))}
    for row in match_events(df, builder).collect():
        got[row["event_id"]].add(row["sub_id"])
    expected = {
        i: set(evaluate_event(forest, normalize_event(attributes, e)))
        for i, e in enumerate(events)
    }
    assert got == expected
