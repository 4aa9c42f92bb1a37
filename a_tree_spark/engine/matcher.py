"""Distributed predicate matching: events DataFrame × broadcast forest.

The flagship operator (SURVEY.md §2.3 "search"): the reference matches
one event against all expressions per call (src/atree.rs:255-311); here
a whole DataFrame streams through executors, each Arrow batch is matched
vectorized against the compiled forest's broadcast plan, and the result is the
relational form of Report::matches() — rows (event_id, sub_id),
unordered (the reference tests sort before asserting,
src/atree.rs:1182-1184).

Two physical strategies:

- ``vectorized`` (default, scales to 1e5+ subscriptions): driver
  compiles the CSE forest and broadcasts its plan (``BatchEvaluator``,
  which ships no forest); ``mapInArrow`` evaluates each
  RecordBatch with numpy tri-state sweeps over zero-copy Arrow views
  (list columns never materialize as python objects). One Python stage,
  no shuffle — matching is embarrassingly parallel over event
  partitions.
- ``codegen`` (small subscription sets): each expression becomes a
  Catalyst boolean Column; matches emit via a single
  explode(filter(array(when(...)))) projection — pure JVM, whole-stage
  codegen, no Python at all. Faster below a few hundred subscriptions;
  the Catalyst plan grows linearly with expressions so it cannot carry
  1e5 of them.

Plan shape at scale (100 TB reasoning): scan -> project needed columns
(parquet column pruning) -> mapInArrow/project -> optional aggregation.
No shuffle anywhere in the match itself; the only shuffles are whatever
the caller does downstream with the matches.
"""

from __future__ import annotations

import dataclasses

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DecimalType, IntegralType

from ..expr.compiler import AND, LEAF, CompiledForest, ForestBuilder
from ..expr.schema import AttributeKind, AttributeTable
from ..expr.sql import leaf_to_sql
from ..expr.vector import (
    DECIMAL_SCALE,
    BatchEvaluator,
    planned_evaluator,
    unsupported_column,
)


def _needed_attributes(forest: CompiledForest) -> list[str]:
    names = forest.attributes.names()
    return sorted({names[leaf.attr_index] for leaf in forest.leaves})


def _float_attributes(forest: CompiledForest) -> list[str]:
    out = []
    for definition in forest.attributes:
        if definition.kind is AttributeKind.FLOAT:
            out.append(definition.name)
    return out


def choose_access_pruning(evaluator: BatchEvaluator) -> bool:
    """Always False: the evaluator has one dense path. Kept only for the
    benchmark's layer probe (perfbench/layers.py), which imports it and
    stores its answer on its own evaluator, where nothing reads it."""
    return False


def broadcast_evaluator(spark, forest: CompiledForest):
    """(evaluator, broadcast handle) for one Spark stage over ``forest``:
    the snapshot's shared plan (planned_evaluator), so a stage over an
    already planned snapshot plans nothing."""
    evaluator = planned_evaluator(forest)
    return evaluator, spark.sparkContext.broadcast(evaluator)


def match_events(
    events: DataFrame,
    matcher: ForestBuilder | CompiledForest,
    event_id_col: str = "event_id",
    strategy: str = "vectorized",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Match every event row against every subscription.

    Returns a DataFrame (event_id, sub_id, *carry_cols) with one row per
    match — the distributed Report (SURVEY.md §1.4). ``carry_cols`` ride
    through the match stage so downstream spatial aggregation needs no
    join back to the (expensive to recompute) event source.

    strategy="vectorized" (default) runs the vectorized Arrow kernel,
    measured faster than the codegen plan even at 27 subscriptions
    (BENCH_r02: 1.281s vs 1.785s; the Catalyst plan re-evaluates every
    expression per row while the sweep amortizes across the CSE DAG). The reference's access predicates
    (src/atree.rs:530-591) have their vectorized form inside the
    kernel: the equality and membership leaves of one attribute share
    an inverted index (``expr.vector._MemberGroup``). "codegen" remains
    callable for pure-JVM deployments that must avoid a Python worker
    pool. Any other strategy raises ``ValueError``.
    """
    if strategy not in ("vectorized", "codegen"):
        raise ValueError(
            f"strategy must be 'vectorized' or 'codegen', got {strategy!r}"
        )
    forest = matcher.compile() if isinstance(matcher, ForestBuilder) else matcher
    if strategy == "codegen":
        return _match_codegen(events, forest, event_id_col, carry_cols)
    return _match_vectorized(events, forest, event_id_col, carry_cols)


def _match_vectorized(
    events: DataFrame,
    forest: CompiledForest,
    event_id_col: str,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    needed = _needed_attributes(forest)
    carry = carry_cols or []
    spark = events.sparkSession

    # Column pruning happens here so the parquet scan only reads the
    # attributes any leaf touches (+ id + carried cols); .explain shows
    # ReadSchema shrinking accordingly.
    projected = events.select(
        event_id_col, *carry, *[c for c in needed if c not in carry]
    )

    # Exact-decimal fast path: scale Float attrs to int64 fixed-point
    # JVM-side, so Arrow ships primitives and the Python evaluator never
    # touches decimal objects (SURVEY.md §4.8). The cast to long
    # truncates toward zero, so the value is rounded first.
    for name in _float_attributes(forest):
        if name in needed:
            scaled = _float_at_scale(projected, name) * (10**DECIMAL_SCALE)
            projected = projected.withColumn(name, scaled.cast("long"))

    _, bc = broadcast_evaluator(spark, forest)
    id_field = projected.schema[event_id_col]
    carry_fields = [projected.schema[c] for c in carry]

    # mapInArrow, not mapInPandas: pandas conversion materializes every
    # list cell as a python list object to be walked row by row — the
    # round-2 hot-path anti-pattern (VERDICT.md). Arrow batches keep
    # list columns as (offsets, values) buffers that arrow_columns
    # turns into list columns without a per-row loop.
    def match_batches(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        ev = bc.value
        for batch in batches:
            rows, subs = ev.evaluate_arrow(batch)
            take_idx = pa.array(rows)
            id_arr = batch.column(batch.schema.get_field_index(event_id_col))
            arrays = [
                pc.take(id_arr, take_idx),
                pa.array(subs, type=pa.int64()),
            ]
            for c in carry:
                arrays.append(
                    pc.take(
                        batch.column(batch.schema.get_field_index(c)),
                        take_idx,
                    )
                )
            yield pa.RecordBatch.from_arrays(
                arrays, names=["event_id", "sub_id", *carry]
            )

    out_schema = ", ".join(
        [f"event_id {id_field.dataType.simpleString()}", "sub_id bigint"]
        + [f"{f.name} {f.dataType.simpleString()}" for f in carry_fields]
    )
    return projected.mapInArrow(match_batches, schema=out_schema)


def _float_at_scale(events: DataFrame, name: str):
    """A FLOAT attribute's column as both strategies compare it: a
    decimal rounded to scale 6 (Spark's round is HALF_UP: ties away
    from zero, as normalize_event and the evaluator's decimal path
    round), an integer as is. A float64 column has no exact scale-6
    reading and fails here, as it does in the evaluator."""
    column_type = events.schema[name].dataType
    if isinstance(column_type, DecimalType):
        return F.round(name, DECIMAL_SCALE)
    if isinstance(column_type, IntegralType):
        return F.col(name)
    raise unsupported_column(
        AttributeKind.FLOAT, f"Spark type {column_type.simpleString()}"
    )


def _match_codegen(
    events: DataFrame,
    forest: CompiledForest,
    event_id_col: str,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Small-N strategy: subscriptions as Catalyst columns.

    matches = explode(filter(array(if(expr_i, id_i, null)...), notnull)).
    Whole-stage codegen keeps this JVM-only; NULL boolean results are
    dropped by the filter, which is exactly 'match = IS TRUE'. A FLOAT
    leaf reads its column rounded to scale 6 (``_float_at_scale``),
    through a temporary column so carried columns keep their values.
    """
    needed = _needed_attributes(forest)
    rounded: dict[str, str] = {}
    for name in _float_attributes(forest):
        if name in needed:
            rounded[name] = f"__scale6_{name}"
            events = events.withColumn(
                rounded[name], _float_at_scale(events, name)
            )

    # Reconstruct each subscription's expression from the DAG by node
    # (sub roots can be interior nodes); render SQL bottom-up.
    kinds = forest.node_kind.tolist()
    lefts = forest.node_left.tolist()
    rights = forest.node_right.tolist()
    sql_cache: dict[int, str] = {}

    def node_sql(idx: int) -> str:
        cached = sql_cache.get(idx)
        if cached is not None:
            return cached
        if kinds[idx] == LEAF:
            leaf = forest.leaves[lefts[idx]]
            if leaf.attr_name in rounded:
                leaf = dataclasses.replace(
                    leaf, attr_name=rounded[leaf.attr_name]
                )
            text = leaf_to_sql(leaf, dialect="spark")
        else:
            connective = "AND" if kinds[idx] == AND else "OR"
            text = (
                f"({node_sql(lefts[idx])} {connective} "
                f"{node_sql(rights[idx])})"
            )
        sql_cache[idx] = text
        return text

    # root order, then insertion order within a root
    by_root = np.argsort(forest.sub_roots, kind="stable")
    hits = [
        F.when(F.expr(node_sql(root)), F.lit(sub).cast("bigint"))
        for root, sub in zip(
            forest.sub_roots[by_root].tolist(), forest.sub_ids[by_root].tolist()
        )
    ]
    carry = carry_cols or []
    if not hits:
        return events.select(
            F.col(event_id_col).alias("event_id"),
            F.lit(None).cast("bigint").alias("sub_id"),
            *[F.col(c) for c in carry],
        ).where(F.lit(False))

    candidates = F.array(*hits)
    return (
        events.select(
            F.col(event_id_col).alias("event_id"),
            F.explode(
                F.filter(candidates, lambda x: x.isNotNull())
            ).alias("sub_id"),
            *[F.col(c) for c in carry],
        )
    )
