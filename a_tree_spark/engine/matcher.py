"""Distributed predicate matching: events DataFrame × broadcast forest.

The flagship operator (SURVEY.md §2.3 "search"): the reference matches
one event against all expressions per call (src/atree.rs:255-311); here
a whole DataFrame streams through executors, each Arrow batch is matched
vectorized against the broadcast compiled forest, and the result is the
relational form of Report::matches() — rows (event_id, sub_id),
unordered (the reference tests sort before asserting,
src/atree.rs:1182-1184).

Two physical strategies:

- ``vectorized`` (default, scales to 1e5+ subscriptions): driver
  compiles + broadcasts the CSE forest; ``mapInArrow`` evaluates each
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

import copy

from pyspark.sql import DataFrame, functions as F

from ..expr.ast import Op
from ..expr.compiler import CompiledForest, ForestBuilder
from ..expr.schema import AttributeKind, AttributeTable
from ..expr.sql import to_sql
from ..expr.vector import DECIMAL_SCALE, BatchEvaluator, planned_evaluator


def _needed_attributes(forest: CompiledForest) -> list[str]:
    names = forest.attributes.names()
    return sorted({names[leaf.attr_index] for leaf in forest.leaves})


def _float_attributes(forest: CompiledForest) -> list[str]:
    out = []
    for definition in forest.attributes:
        if definition.kind is AttributeKind.FLOAT:
            out.append(definition.name)
    return out


#: auto-pruning threshold (round 5, recalibrated by measurement): the
#: two-phase machinery — upper-bound sweep + candidate pull pass —
#: costs O((nodes + parent edges) * packed_bytes) REGARDLESS of how
#: much lazy work it saves, so the decision variable is the total
#: deferred-work density: sum of reference leaf costs over the LAZY
#: leaves per forest unit (nodes + edges). Measured A/B (4096-row
#: batches, warm, identical outputs):
#:   workload             density   pruned vs dense
#:   uniform flagship     .0004-.011  0.42x LOSS (r3 flagship: 33.5s/14.1s)
#:   skewed 100k subs     .014        0.44x LOSS
#:   skewed 50k subs      .020        0.61x LOSS
#:   skewed 10k subs      .086        2.27x WIN
#:   skewed 400-2k subs   .353        4.6-5.1x WIN
#:   wide-ALL_OF fixture  16.0        2.6-6.6x WIN
#: Breakeven sits between .02 and .086; .05 splits it. (The round-3/4
#: model thresholded the MEAN lazy cost at 8 instead, which mispredicts
#: in both directions: the 400-sub skewed forest wins 4.6x at mean 6.2,
#: and the 100k-sub skewed forest loses 2.3x at mean 12 — per-unit
#: total cost is what tracks the sweep+pull overhead, not the mean.)
ACCESS_PRUNING_MIN_COST_DENSITY = 0.05


def _leaf_ref_cost(leaf) -> int:
    """The reference's per-predicate cost model (src/predicates.rs:
    144-165): variables / null checks / comparisons / equality are
    constant, set membership costs len(list), list operators cost
    2 * len(list). Used both here (auto strategy) and by the compiler's
    cost-ordered children."""
    op = leaf.op
    if op in (Op.IN, Op.NOT_IN):
        return max(len(leaf.operand), 1)
    if op in (Op.ONE_OF, Op.NONE_OF, Op.ALL_OF, Op.NOT_ALL_OF):
        return 2 * max(len(leaf.operand), 1)
    return 1


def choose_access_pruning(evaluator: BatchEvaluator) -> bool:
    """Cost-model-driven default for the two-phase access split: prune
    when the LAZY (deferred) leaves are expensive enough that skipping
    them on non-candidate rows beats the extra upper-bound sweep +
    downward candidate pass. Grouped leaves (inverted membership index,
    grouped equality) already cost O(occurrences) and are never lazy.

    Decision variable: total lazy cost per forest unit (nodes +
    parent-CSR edges) >= ACCESS_PRUNING_MIN_COST_DENSITY — the
    candidate pull pass is O(forest size x packed bytes) whether or
    not it saves anything, so what predicts the win is how much
    deferred work each unit of that overhead buys back (measured
    calibration table at the constant; a mean-lazy-cost threshold
    mispredicted in both directions)."""
    lazy = evaluator.lazy_leaf_idxs
    if not lazy:
        return False
    total = sum(_leaf_ref_cost(evaluator.forest.leaves[i]) for i in lazy)
    edges = len(evaluator._parent_csr()[0])
    density = total / max(evaluator.forest.num_nodes + edges, 1)
    return density >= ACCESS_PRUNING_MIN_COST_DENSITY


def broadcast_evaluator(
    spark, forest: CompiledForest, access_pruning: bool | None = None
):
    """(evaluator, broadcast handle) for one Spark stage over ``forest``:
    a shallow copy of the snapshot's shared plan (planned_evaluator)
    that carries this caller's ``access_pruning`` (None = cost-model
    auto, ``choose_access_pruning``). A stage over an already planned
    snapshot plans nothing, and its flag never reaches the shared plan
    or another caller's stage."""
    plan = planned_evaluator(forest)
    if access_pruning is None:
        access_pruning = choose_access_pruning(plan)
    evaluator = copy.copy(plan)
    evaluator.access_pruning = access_pruning
    return evaluator, spark.sparkContext.broadcast(evaluator)


def match_events(
    events: DataFrame,
    matcher: ForestBuilder | CompiledForest,
    event_id_col: str = "event_id",
    strategy: str = "auto",
    sub_id_type: str = "bigint",
    carry_cols: list[str] | None = None,
    access_pruning: bool | None = None,
) -> DataFrame:
    """Match every event row against every subscription.

    Returns a DataFrame (event_id, sub_id, *carry_cols) with one row per
    match — the distributed Report (SURVEY.md §1.4). ``carry_cols`` ride
    through the match stage so downstream spatial aggregation needs no
    join back to the (expensive to recompute) event source.

    strategy="auto" (default) mirrors the reference's cost-driven access
    selection (src/atree.rs:133-137,530-547) at plan level: always the
    vectorized Arrow kernel — measured faster than the codegen plan even
    at 27 subscriptions (BENCH_r02: 1.281s vs 1.785s; the Catalyst plan
    re-evaluates every expression per row while the sweep amortizes
    across the CSE DAG) — with two-phase access pruning switched on by
    the compiled cost model (``choose_access_pruning``). "codegen"
    remains callable for pure-JVM deployments that must avoid a Python
    worker pool.

    ``access_pruning`` (None = cost-model auto) enables the reference's
    two-phase access-predicate evaluation (src/atree.rs:530-591) in the
    vectorized strategy: lazy (non-access) leaves evaluate only on the
    candidate rows their access siblings admit. Semantics-invariant
    (hypothesis-pinned); pays off when lazy predicates are expensive
    relative to the packed sweep — long list operands, ALL_OF over wide
    lists, object decimals.
    """
    forest = matcher.compile() if isinstance(matcher, ForestBuilder) else matcher
    if strategy == "codegen":
        return _match_codegen(events, forest, event_id_col, sub_id_type, carry_cols)
    return _match_vectorized(
        events, forest, event_id_col, sub_id_type, carry_cols, access_pruning
    )


def _match_vectorized(
    events: DataFrame,
    forest: CompiledForest,
    event_id_col: str,
    sub_id_type: str,
    carry_cols: list[str] | None = None,
    access_pruning: bool | None = None,
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
    # JVM-side (exact for DecimalType), so Arrow ships primitives and the
    # Python evaluator never touches decimal objects (SURVEY.md §4.8).
    for name in _float_attributes(forest):
        if name in needed:
            projected = projected.withColumn(
                name, (F.col(name) * (10**DECIMAL_SCALE)).cast("long")
            )

    _, bc = broadcast_evaluator(spark, forest, access_pruning)
    id_field = projected.schema[event_id_col]
    carry_fields = [projected.schema[c] for c in carry]

    # mapInArrow, not mapInPandas: pandas conversion materializes every
    # list cell as a python list object and _ListColumn.__init__ walks
    # them row by row — the round-2 hot-path anti-pattern (VERDICT.md).
    # Arrow batches keep list columns as (offsets, values) buffers that
    # arrow_columns turns into _ListColumn.from_parts views zero-copy.
    def match_batches(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        ev = bc.value
        sub_type = pa.int64() if sub_id_type == "bigint" else pa.int32()
        for batch in batches:
            rows, subs = ev.evaluate_arrow(batch)
            take_idx = pa.array(rows)
            id_arr = batch.column(batch.schema.get_field_index(event_id_col))
            arrays = [
                pc.take(id_arr, take_idx),
                pa.array(subs, type=pa.int64()).cast(sub_type),
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
        [f"event_id {id_field.dataType.simpleString()}", f"sub_id {sub_id_type}"]
        + [f"{f.name} {f.dataType.simpleString()}" for f in carry_fields]
    )
    return projected.mapInArrow(match_batches, schema=out_schema)


def _match_codegen(
    events: DataFrame,
    forest: CompiledForest,
    event_id_col: str,
    sub_id_type: str,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Small-N strategy: subscriptions as Catalyst columns.

    matches = explode(filter(array(if(expr_i, id_i, null)...), notnull)).
    Whole-stage codegen keeps this JVM-only; NULL boolean results are
    dropped by the filter, which is exactly 'match = IS TRUE'.
    """
    # Reconstruct each subscription's expression from the DAG by node
    # (sub roots can be interior nodes); render SQL bottom-up.
    sql_cache: dict[int, str] = {}

    def node_sql(idx: int) -> str:
        cached = sql_cache.get(idx)
        if cached is not None:
            return cached
        kind = forest.node_kind[idx]
        if kind == 0:  # LEAF
            text = to_sql_leaf(forest, idx)
        else:
            connective = "AND" if kind == 1 else "OR"
            text = (
                f"({node_sql(forest.node_left[idx])} {connective} "
                f"{node_sql(forest.node_right[idx])})"
            )
        sql_cache[idx] = text
        return text

    def to_sql_leaf(forest: CompiledForest, idx: int) -> str:
        from ..expr.sql import leaf_to_sql

        return leaf_to_sql(forest.leaves[forest.node_left[idx]], dialect="spark")

    hits = []
    for node_idx, subs in sorted(forest.node_subs.items()):
        for sub in subs:
            hits.append(
                F.when(
                    F.expr(node_sql(node_idx)),
                    F.lit(sub).cast(sub_id_type),
                )
            )
    carry = carry_cols or []
    if not hits:
        return events.select(
            F.col(event_id_col).alias("event_id"),
            F.lit(None).cast(sub_id_type).alias("sub_id"),
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
