"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (predicate matching over the
sf0.001 events table). ``queries()``/``oracle_sql()`` expose each
implemented operator with a DuckDB-equivalent oracle; the driver diffs
them at sf0.01 (row-count + schema + order-insensitive value hash).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def _eventized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from a_tree_spark.engine.eventize import eventize_events

    return eventize_events(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _builder():
    from a_tree_spark.engine.eventize import EVENT_ATTRIBUTES, STANDING_SUBSCRIPTIONS
    from a_tree_spark.expr import ForestBuilder

    builder = ForestBuilder(EVENT_ATTRIBUTES)
    for sub_id, expression in STANDING_SUBSCRIPTIONS.items():
        builder.insert(sub_id, expression)
    return builder


def _matcher_oracle() -> str:
    from a_tree_spark.engine.eventize import (
        EVENT_ATTRIBUTES,
        EVENTIZE_DUCKDB_CTE,
        STANDING_SUBSCRIPTIONS,
    )
    from a_tree_spark.expr.sql import matcher_oracle_sql

    union = matcher_oracle_sql(
        STANDING_SUBSCRIPTIONS, EVENT_ATTRIBUTES, events_table="ev"
    )
    return f"WITH ev AS ({EVENTIZE_DUCKDB_CTE}) {union}"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: vectorized predicate matching (the reference's `search`,
    src/atree.rs:255-311, generalized to a DataFrame of events), on the
    auto strategy."""
    from a_tree_spark.engine.matcher import match_events

    events = _eventized(spark, "/root/testdata/sf0.001")
    return match_events(events, _builder())


def _q_match_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized Arrow kernel, named explicitly rather than through
    the auto strategy."""
    from a_tree_spark.engine.matcher import match_events

    return match_events(
        _eventized(spark, sf_dir), _builder(), strategy="vectorized"
    )


def _q_match_codegen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from a_tree_spark.engine.matcher import match_events

    return match_events(_eventized(spark, sf_dir), _builder(), strategy="codegen")


def _q_match_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from a_tree_spark.engine.matcher import match_events

    matches = match_events(_eventized(spark, sf_dir), _builder())
    return matches.groupBy("sub_id").agg(
        F.count("*").alias("n_matches"),
        F.countDistinct("event_id").alias("n_events"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from a_tree_spark.engine import spatial_queries as SQ
    from a_tree_spark.engine.pipeline_queries import PIPELINE_QUERIES

    out = {
        "match_vectorized": _q_match_vectorized,
        "match_codegen": _q_match_codegen,
        "match_agg_by_sub": _q_match_agg,
        "cell_encode": SQ.q_cell_encode,
        "cell_agg": SQ.q_cell_agg,
        "point_in_polygon": SQ.q_point_in_polygon,
        "point_in_polygon_pandas": SQ.q_point_in_polygon_pandas,
        "knn": SQ.q_knn,
        "raster_vector": SQ.q_raster_vector,
        "cell_ring_stats": SQ.q_cell_ring_stats,
        "cell_time_rollup": SQ.q_cell_time_rollup,
        "asof_join": SQ.q_asof_join,
        "asof_join_skewed": SQ.q_asof_join_skewed,
        "sessionize": SQ.q_sessionize,
        "sessionize_skewed": SQ.q_sessionize_skewed,
        "trajectory_stats": SQ.q_trajectory_stats,
        "trajectory_stats_skewed": SQ.q_trajectory_stats_skewed,
        "cell_day_cube": SQ.q_cell_day_cube,
        "interval_join": SQ.q_interval_join,
        "cell_compact": SQ.q_cell_compact,
        "spatial_cluster": SQ.q_spatial_cluster,
        "od_flows": SQ.q_od_flows,
    }
    out.update(PIPELINE_QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    from a_tree_spark.engine import spatial_queries as SQ
    from a_tree_spark.engine.pipeline_queries import PIPELINE_ORACLES

    matcher = _matcher_oracle()
    pip = SQ.oracle_point_in_polygon()
    out = dict(PIPELINE_ORACLES)
    out.update({
        "match_vectorized": matcher,
        "match_codegen": matcher,
        "match_agg_by_sub": (
            f"SELECT sub_id, COUNT(*) AS n_matches, "
            f"COUNT(DISTINCT event_id) AS n_events "
            f"FROM ({matcher}) GROUP BY sub_id"
        ),
        "cell_encode": SQ.oracle_cell_encode(),
        "cell_agg": SQ.oracle_cell_agg(),
        "point_in_polygon": pip,
        "point_in_polygon_pandas": pip,
        "knn": SQ.oracle_knn(),
        "raster_vector": SQ.oracle_raster_vector(),
        "cell_ring_stats": SQ.oracle_cell_ring_stats(),
        "cell_time_rollup": SQ.oracle_cell_time_rollup(),
        "asof_join": SQ.oracle_asof_join(),
        "asof_join_skewed": SQ.oracle_asof_join(),
        "sessionize": SQ.oracle_sessionize(),
        "sessionize_skewed": SQ.oracle_sessionize(),
        "trajectory_stats": SQ.oracle_trajectory_stats(),
        "trajectory_stats_skewed": SQ.oracle_trajectory_stats(),
        "cell_day_cube": SQ.oracle_cell_day_cube(),
        "interval_join": SQ.oracle_interval_join(),
        "cell_compact": SQ.oracle_cell_compact(),
        "spatial_cluster": SQ.oracle_spatial_cluster(),
        "od_flows": SQ.oracle_od_flows(),
    })
    return out
