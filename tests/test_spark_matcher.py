"""Spark-side matcher integration: vectorized vs codegen vs DuckDB oracle.

The two physical strategies must agree with each other and with the
relational oracle on the driver's events table — this is the DataFrame
restatement of the reference's insert/search integration tests
(src/atree.rs:884-1393) at table scale.
"""

import pytest

from tests.conftest import SF_DIR, assert_matches_duckdb

from a_tree_spark.engine.eventize import (
    EVENT_ATTRIBUTES,
    EVENTIZE_DUCKDB_CTE,
    STANDING_SUBSCRIPTIONS,
    eventize_events,
)
from a_tree_spark.engine.matcher import match_events
from a_tree_spark.expr import ForestBuilder
from a_tree_spark.expr.sql import matcher_oracle_sql


@pytest.fixture(scope="module")
def eventized(spark):
    df = eventize_events(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def builder():
    b = ForestBuilder(EVENT_ATTRIBUTES)
    for sub_id, expression in STANDING_SUBSCRIPTIONS.items():
        b.insert(sub_id, expression)
    return b


def oracle_sql() -> str:
    union = matcher_oracle_sql(
        STANDING_SUBSCRIPTIONS, EVENT_ATTRIBUTES, events_table="ev"
    )
    return f"WITH ev AS ({EVENTIZE_DUCKDB_CTE}) {union}"


def test_vectorized_matches_oracle(eventized, builder):
    result = match_events(eventized, builder, strategy="vectorized")
    assert_matches_duckdb(result, oracle_sql())


def test_codegen_matches_oracle(eventized, builder):
    result = match_events(eventized, builder, strategy="codegen")
    assert_matches_duckdb(result, oracle_sql())


def test_strategies_agree(eventized, builder):
    a = sorted(map(tuple, match_events(eventized, builder, "event_id", "vectorized").collect()))
    b = sorted(map(tuple, match_events(eventized, builder, "event_id", "codegen").collect()))
    assert a == b
    assert len(a) > 0  # the workload matches something


def test_access_pruning_agrees_end_to_end(eventized, builder):
    """Two-phase access-predicate evaluation (reference
    src/atree.rs:530-591) must be invisible in the results — same
    matches as the dense vectorized strategy on the full standing
    workload, through the real Spark stage."""
    dense = sorted(map(tuple, match_events(eventized, builder).collect()))
    pruned = sorted(map(tuple, match_events(
        eventized, builder, access_pruning=True
    ).collect()))
    assert dense == pruned and len(dense) > 0


def test_no_python_in_codegen_plan(eventized, builder):
    plan = match_events(eventized, builder, strategy="codegen")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_vectorized_plan_prunes_columns(eventized, builder):
    # the matcher projects only the attributes leaves touch + event_id
    df = match_events(eventized, builder, strategy="vectorized")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInArrow" in plan


def test_auto_strategy_cost_model():
    """strategy auto: the compiled cost model turns two-phase pruning on
    exactly when lazy leaves are expensive (reference economics,
    src/predicates.rs:144-165 + atree.rs:530-547)."""
    from a_tree_spark.engine.matcher import choose_access_pruning
    from a_tree_spark.expr import AttributeDefinition as A, AttributeTable, ForestBuilder
    from a_tree_spark.expr.vector import BatchEvaluator
    from a_tree_spark.web.pipeline import build_page_forest

    # flagship workload: lazy leaves are cheap scalar compares -> dense
    assert not choose_access_pruning(
        BatchEvaluator(build_page_forest(500).compile())
    )

    # selective workload with wide ALL_OF lazies -> two-phase pruning
    attrs = AttributeTable([A.integer("k"), A.integer_list("xs")])
    builder = ForestBuilder(attrs)
    for i in range(20):
        wide = sorted(range(i * 3, i * 3 + 40))
        builder.insert(i, f"k = {i} and xs all of {wide}")
    evaluator = BatchEvaluator(builder.compile())
    assert evaluator.lazy_leaf_idxs  # ALL_OF leaves actually deferred
    assert choose_access_pruning(evaluator)


def test_match_events_shares_one_plan_across_pruning_flags(eventized, monkeypatch):
    """Two vectorized passes over one snapshot, one pruned and one
    dense, plan the evaluator once; each pass ships its own flag and the
    shared plan keeps its own."""
    from a_tree_spark.expr import vector
    from a_tree_spark.expr.vector import BatchEvaluator, planned_evaluator

    plans = []
    init = BatchEvaluator.__init__

    def counting_init(self, *args, **kwargs):
        plans.append(1)
        init(self, *args, **kwargs)

    monkeypatch.setattr(BatchEvaluator, "__init__", counting_init)
    monkeypatch.setattr(vector, "_latest_plan", None)

    fresh = ForestBuilder(EVENT_ATTRIBUTES)
    for sub_id, expression in STANDING_SUBSCRIPTIONS.items():
        fresh.insert(sub_id, expression)
    pruned = sorted(map(tuple, match_events(
        eventized, fresh, strategy="vectorized", access_pruning=True
    ).collect()))
    dense = sorted(map(tuple, match_events(
        eventized, fresh, strategy="vectorized", access_pruning=False
    ).collect()))
    assert pruned == dense and len(dense) > 0
    assert len(plans) == 1
    assert not planned_evaluator(fresh.compile()).access_pruning
