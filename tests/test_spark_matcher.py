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
    for typo in ("codgen", "fused", ""):
        with pytest.raises(ValueError, match="strategy must be"):
            match_events(eventized, builder, strategy=typo)


def test_float_prescale_rounds_like_the_oracle(spark):
    """FLOAT columns reach the evaluator as scale-6 fixed point. A
    decimal of a finer scale rounds half away from zero, as the
    single-row oracle does (truncation missed ``1.0000005 >= 1.000001``
    and matched ``-0.0000005 >= 0.0``); a double column has no exact
    reading and raises at plan time (it read ``1.005`` as 1004999)."""
    from decimal import Decimal

    from a_tree_spark.expr import ATreeMatcher, AttributeDefinition as A, AttributeTable

    attrs = AttributeTable([A.float("f")])
    expressions = {1: "f >= 1.000001", 2: "f >= 1.005", 3: "f >= 0.0"}
    oracle = ATreeMatcher(attrs)
    builder = ForestBuilder(attrs)
    for sub_id, expression in expressions.items():
        oracle.insert(sub_id, expression)
        builder.insert(sub_id, expression)

    values = [Decimal("1.0000005"), Decimal("1.005"), Decimal("-0.0000005")]
    events = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "event_id long, f decimal(38,10)"
    )
    want = sorted(
        (i, sub) for i, v in enumerate(values) for sub in oracle.search({"f": v})
    )
    assert (0, 1) in want and (2, 3) not in want
    got = sorted(map(tuple, match_events(events, builder).collect()))
    assert got == want

    doubles = events.withColumn("f", events["f"].cast("double"))
    with pytest.raises(TypeError, match="float.*double"):
        match_events(doubles, builder)


def test_strategies_equal_oracle_on_null_elements_and_fine_decimals(spark):
    """Every strategy equals the single-row oracle where the codegen
    strategy used to differ: a decimal FLOAT finer than scale 6 rounds
    half up before the compare, and a null list element is never a
    member, so ``none of`` and ``not all of`` are TRUE on a list with a
    null element and no member (Spark's arrays_overlap and
    array_contains return NULL there). Codegen missed (0, 1), (0, 5),
    (1, 2), (2, 1) and (2, 2) before."""
    from decimal import Decimal

    from a_tree_spark.expr import (
        AttributeDefinition as A, AttributeTable, evaluate_event, normalize_event,
    )

    attrs = AttributeTable([A.string_list("tags"), A.float("f")])
    builder = ForestBuilder(attrs)
    for sub_id, expression in {
        1: "tags none of ['a']",
        2: "not (tags all of ['a'])",
        3: "tags all of ['a']",
        4: "tags one of ['a']",
        5: "f >= 1.000001",
    }.items():
        builder.insert(sub_id, expression)
    forest = builder.compile()
    rows = [(["b", None], Decimal("1.0000005")), (["a", None], Decimal("1.0")),
            ([None], Decimal("2"))]
    want = sorted(
        (i, sub)
        for i, (tags, f) in enumerate(rows)
        for sub in evaluate_event(
            forest, {"tags": tags, **normalize_event(attrs, {"f": f})}
        )
    )
    assert {(0, 1), (0, 5), (1, 2), (2, 1), (2, 2)} <= set(want)
    events = spark.createDataFrame(
        [(i, tags, f) for i, (tags, f) in enumerate(rows)],
        "event_id long, tags array<string>, f decimal(38,10)",
    )
    for strategy in ("auto", "vectorized", "codegen"):
        got = sorted(map(tuple, match_events(
            events, builder, strategy=strategy
        ).collect()))
        assert got == want, strategy


def test_no_python_in_codegen_plan(eventized, builder):
    plan = match_events(eventized, builder, strategy="codegen")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_vectorized_plan_prunes_columns(eventized, builder):
    # the matcher projects only the attributes leaves touch + event_id
    df = match_events(eventized, builder, strategy="vectorized")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInArrow" in plan
