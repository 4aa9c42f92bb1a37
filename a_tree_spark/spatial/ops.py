"""Distributed spatial operators: cell encode, tile joins, point-in-
polygon, kNN, raster↔vector — all expressed as Catalyst-friendly plans.

Design rules (SURVEY.md §2.4):
- cell encoding is pure JVM arithmetic (no UDF) so it rides whole-stage
  codegen and pushes through AQE;
- every spatial join is an equi-join on cell_id — broadcast when one
  side is small, AQE skew-join otherwise;
- exact refines (ray cast) run either as generated-SQL CASE branches
  (small polygon sets, zero Python) or as a vectorized numpy refine via
  mapInPandas (large sets);
- kNN is iterative disk-expansion with a provable termination bound
  (min_outside_distance) so results equal the brute-force oracle
  exactly.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from ..pipeline.materialize import Held, retain, retained
from .cells import (
    DEFAULT_LEVEL,
    cell_id_sql,
    grid_size,
    min_outside_distance,
    ray_cast_sql,
)


def with_cell_id(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    level: int = DEFAULT_LEVEL,
    out_col: str = "cell_id",
) -> DataFrame:
    """JVM-side cell encoding — shows up inside WholeStageCodegen, no
    Python worker involved."""
    return df.withColumn(out_col, F.expr(cell_id_sql(lat_col, lon_col, level)))


@dataclass(frozen=True)
class Polygon:
    shape_id: int
    ring: tuple  # ((lat, lon), ...) closed implicitly


def polygon_cover_df(spark, polygons: list[Polygon], level: int = DEFAULT_LEVEL) -> DataFrame:
    """Driver-side cover computation -> small (shape_id, cell_id) DF.
    Covers are conservative (bbox cells); exactness comes from the
    refine stage, so this only controls candidate selectivity."""
    from .cells import polygon_bbox_cover

    rows = []
    for polygon in polygons:
        for cell in polygon_bbox_cover(list(polygon.ring), level).tolist():
            rows.append((polygon.shape_id, cell))
    return spark.createDataFrame(rows, "shape_id bigint, cell_id bigint")


def point_in_polygon_join(
    points: DataFrame,
    polygons: list[Polygon],
    lat_col: str = "lat",
    lon_col: str = "lon",
    level: int = DEFAULT_LEVEL,
    refine: str = "sql",
) -> DataFrame:
    """points × polygons containment join.

    Plan: encode points to cells (codegen) -> broadcast-join the
    polygon cell cover (candidates) -> exact even-odd ray cast.
    ``refine="sql"`` generates one CASE branch per polygon (pure JVM —
    right choice up to a few hundred polygons); ``refine="pandas"``
    ships rings via broadcast and refines in numpy (scale path for
    thousands of polygons).
    """
    spark = points.sparkSession
    pts = with_cell_id(points, lat_col, lon_col, level)
    cover = polygon_cover_df(spark, polygons, level)
    candidates = pts.join(F.broadcast(cover), "cell_id")

    if refine == "sql":
        branches = " ".join(
            f"WHEN {p.shape_id} THEN {ray_cast_sql(lat_col, lon_col, list(p.ring))}"
            for p in polygons
        )
        inside = F.expr(f"CASE shape_id {branches} ELSE FALSE END")
        return candidates.where(inside).drop("cell_id")

    import numpy as np
    import pandas as pd

    from .cells import points_in_polygon

    rings = {p.shape_id: list(p.ring) for p in polygons}
    bc = spark.sparkContext.broadcast(rings)
    fields = [f for f in candidates.schema.fields if f.name != "cell_id"]
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    names = [f.name for f in fields]

    def refine_batches(batches):
        table = bc.value
        for pdf in batches:
            keep = np.zeros(len(pdf), dtype=bool)
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            for shape_id, group in pdf.groupby("shape_id"):
                idx = group.index.to_numpy()
                mask = points_in_polygon(lat[idx], lon[idx], table[shape_id])
                keep[idx[mask]] = True
            yield pdf.loc[keep, names]

    return candidates.mapInPandas(refine_batches, schema=out_schema)


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    point_id_col: str = "point_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    level: int = DEFAULT_LEVEL,
    initial_radius: int = 1,
    max_rounds: int = 8,
) -> DataFrame:
    """Exact k-nearest-neighbors via cell-disk expansion.

    Per round: explode each pending query's cell disk (JVM `sequence`
    expressions — no Python), equi-join points on cell_id, take top-k by
    (dist2, point_id). A query finishes when its kth distance is within
    the guarantee bound min_outside_distance(radius) — no point outside
    the disk can beat it — or the disk covers the grid. Matches the
    brute-force oracle exactly (planar-degree metric, ties by point_id).

    Scale notes: each round is one shuffle join keyed by cell_id; disk
    size grows as (2r+1)^2 but only unfinished queries re-expand, and in
    dense data round 1 finishes nearly everything.
    """
    n = grid_size(level)
    # The POINTS side keeps its (shallow) lineage: scan -> project ->
    # cell encode is a pruned columnar read, and re-running it per
    # expansion round beats eagerly materializing the big table —
    # round 1 checkpointed all of points per knn call, a scale-killer
    # at 1e12 rows and the main source of knn bench variance
    # (VERDICT.md). Only the QUERY side — small, and shrinking every
    # round — is pinned to truncate the per-round anti-join lineage.
    # The lazy result union reads every round's pending checkpoint.
    held = Held()
    pts = with_cell_id(points, lat_col, lon_col, level).select(
        F.col(point_id_col),
        F.col(lat_col).alias("_p_lat"),
        F.col(lon_col).alias("_p_lon"),
        "cell_id",
    )
    pending = with_cell_id(queries, lat_col, lon_col, level).select(
        query_id_col,
        F.col(lat_col).alias("_q_lat"),
        F.col(lon_col).alias("_q_lon"),
        F.col("cell_id").alias("_q_cell"),
    )
    pending = held.checkpoint(pending, eager=True)

    results = None
    radius = initial_radius
    for _ in range(max_rounds):
        qx = pending.withColumn("_qx", F.col("_q_cell") % n).withColumn(
            "_qy", (F.col("_q_cell") / n).cast("long")
        )
        disk = qx.withColumn(
            "cell_id",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(GREATEST(_qy - {radius}, 0), "
                    f"LEAST(_qy + {radius}, {n - 1})), "
                    f"y -> transform(sequence(GREATEST(_qx - {radius}, 0), "
                    f"LEAST(_qx + {radius}, {n - 1})), x -> y * {n} + x)))"
                )
            ),
        ).select(query_id_col, "_q_lat", "_q_lon", "_q_cell", "cell_id")

        # plain multiplies (not pow()) so the arithmetic is bit-identical
        # to the oracle's (a-b)*(a-b)
        dlat = F.col("_q_lat") - F.col("_p_lat")
        dlon = F.col("_q_lon") - F.col("_p_lon")
        candidates = disk.join(pts, "cell_id").withColumn(
            "dist2", dlat * dlat + dlon * dlon
        )
        window = Window.partitionBy(query_id_col).orderBy("dist2", point_id_col)
        topk = candidates.withColumn("rank", F.row_number().over(window)).where(
            F.col("rank") <= k
        )

        bound = min_outside_distance(radius, level) ** 2
        grid_covered = radius >= n  # disk spans the whole grid
        per_query = topk.groupBy(query_id_col, "_q_cell", "_q_lat", "_q_lon").agg(
            F.count("*").alias("_n"), F.max("dist2").alias("_kth")
        )
        done_filter = (
            F.lit(True)
            if grid_covered
            else (F.col("_n") >= k) & (F.col("_kth") <= F.lit(bound))
        )
        done_ids = per_query.where(done_filter).select(query_id_col)
        finished = topk.join(F.broadcast(done_ids), query_id_col).select(
            query_id_col, point_id_col, "rank"
        )
        results = finished if results is None else results.unionByName(finished)

        left = pending.join(F.broadcast(done_ids), query_id_col, "left_anti")
        pending = held.checkpoint(left, eager=True)
        if grid_covered or pending.isEmpty():
            break
        radius *= 2
    else:
        held.release()
        raise RuntimeError(
            f"knn_join did not converge in {max_rounds} rounds (radius={radius})"
        )

    retain(held)
    return results


def raster_vector_join(
    raster: DataFrame,
    vector_cover: DataFrame,
    value_col: str = "tile_value",
    key_col: str = "shape_id",
) -> DataFrame:
    """raster tiles (cell_id, value) ⋈ vector cell cover (shape_id,
    cell_id) -> exact per-shape aggregates. Integer/decimal values keep
    sums order-independent, so engine == oracle bit-for-bit."""
    joined = vector_cover.join(raster, "cell_id")
    return joined.groupBy(key_col).agg(
        F.count("*").alias("n_tiles"),
        F.sum(value_col).alias("sum_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def ring_smooth(
    cell_stats: DataFrame,
    value_cols: list[str],
    radius: int = 1,
    level: int = DEFAULT_LEVEL,
    cell_col: str = "cell_id",
) -> DataFrame:
    """Focal (k-ring) smoothing over a per-cell stats table — the H3
    `grid_disk` neighborhood-aggregation idiom (e.g. hotspot smoothing)
    on the GLQ grid: for every OCCUPIED cell, sum each value column over
    all occupied cells within Chebyshev distance ``radius`` (edge-
    clipped, no wraparound — cells at the grid border simply have fewer
    neighbors, mirroring `disk_cells`).

    Plan shape (scale-first): scatter-gather with zero Python.
      1. each occupied cell scatters its values to the (2r+1)^2 cells of
         its disk via two `explode(sequence(-r, r))` — the fan-out runs
         AFTER per-cell aggregation, so it is bounded by the number of
         DISTINCT cells, never by corpus rows;
      2. receivers aggregate (one shuffle keyed by cell_id, map-side
         combined);
      3. an inner join back to the input keeps only occupied focal
         cells — both sides are post-aggregation cell tables and share
         the cell_id key, so at 100 TB this is a co-partitioned (or
         broadcast, the smoothed side is ≤ input size × 1) join.

    Output: the input columns plus ``ring_<col>`` sums and
    ``n_ring_cells`` (occupied disk size, incl. the cell itself).
    """
    n = grid_size(level)
    scattered = (
        cell_stats.select(
            F.col(cell_col),
            F.expr(f"{cell_col} DIV {n}").alias("_y"),
            F.expr(f"{cell_col} % {n}").alias("_x"),
            *[F.col(c) for c in value_cols],
        )
        .withColumn("_dy", F.explode(F.expr(f"sequence({-radius}, {radius})")))
        .withColumn("_dx", F.explode(F.expr(f"sequence({-radius}, {radius})")))
        .withColumn("_ny", F.col("_y") + F.col("_dy"))
        .withColumn("_nx", F.col("_x") + F.col("_dx"))
        .filter(
            (F.col("_ny") >= 0) & (F.col("_ny") < n)
            & (F.col("_nx") >= 0) & (F.col("_nx") < n)
        )
        .select(
            (F.col("_ny") * n + F.col("_nx")).alias("_target"),
            *[F.col(c) for c in value_cols],
        )
    )
    smoothed = scattered.groupBy("_target").agg(
        F.count("*").alias("n_ring_cells"),
        *[
            F.sum(c).cast("bigint").alias(f"ring_{c}")
            for c in value_cols
        ],
    )
    return (
        cell_stats.join(smoothed, cell_stats[cell_col] == smoothed["_target"])
        .drop("_target")
    )


def ring_smooth_oracle_sql(
    stats_sql: str,
    value_cols: list[str],
    stats_cols: list[str],
    radius: int = 1,
    level: int = DEFAULT_LEVEL,
    cell_col: str = "cell_id",
) -> str:
    """DuckDB mirror of `ring_smooth` over a stats subquery — identical
    integer scatter arithmetic (`//` is DuckDB's integer division; the
    Spark side uses DIV). ``stats_cols`` must list ALL columns of
    ``stats_sql`` in engine output order: the engine keeps every input
    column after its join, so a wrong guess here would be a silent
    schema mismatch — required, no default."""
    n = grid_size(level)
    vals = ", ".join(value_cols)
    ring_aggs = ", ".join(
        f"CAST(SUM({c}) AS BIGINT) AS ring_{c}" for c in value_cols
    )
    keep = ", ".join(f"s.{c}" for c in stats_cols)
    ring_out = ", ".join(f"r.ring_{c}" for c in value_cols)
    return f"""
WITH stats AS ({stats_sql}),
scattered AS (
    SELECT (({cell_col} // {n}) + dy.g) * {n} + (({cell_col} % {n}) + dx.g)
               AS target, {vals}
    FROM stats,
         generate_series({-radius}, {radius}) dy(g),
         generate_series({-radius}, {radius}) dx(g)
    WHERE ({cell_col} // {n}) + dy.g BETWEEN 0 AND {n - 1}
      AND ({cell_col} % {n}) + dx.g BETWEEN 0 AND {n - 1}
),
smoothed AS (
    SELECT target, COUNT(*) AS n_ring_cells, {ring_aggs}
    FROM scattered GROUP BY target
)
SELECT {keep}, r.n_ring_cells, {ring_out}
FROM stats s JOIN smoothed r ON s.{cell_col} = r.target
""".strip()


# segment length in integer micro-degrees: FLOOR(sqrt(.)*1e6) of IEEE
# doubles both engines compute bit-identically (sqrt is correctly
# rounded per IEEE-754), so the per-user SUM is an order-independent
# integer — the same exactness trick the rollup's cents-sum uses
def _segment_micro_sql(lat: str, lon: str, plat: str, plon: str) -> str:
    d2 = (
        f"(({lat} - {plat}) * ({lat} - {plat})"
        f" + ({lon} - {plon}) * ({lon} - {plon}))"
    )
    return f"CAST(FLOOR(SQRT({d2}) * 1000000) AS BIGINT)"


def trajectory_stats(
    points: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key movement trajectory over (lat, lon) points ordered by
    event time: point count, total path length (planar-degree metric,
    integer micro-degrees — see `spatial/cells.py` for the declared
    geometry), and the bounding box in micro-degrees.

    Plan: one lag() window per key computes segment lengths, one
    groupBy collapses to trajectories — both keyed on ``key_col``, so
    Spark plans a single Exchange (same shape as `sessionize`). At
    100 TB the per-key ordered pass is the canonical trajectory
    formulation; hot keys bound the task, not total volume.
    """
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(id_col))
    seg = F.expr(_segment_micro_sql("lat", "lon", "_plat", "_plon"))
    segs = points.select(
        F.col(key_col),
        F.col("lat"),
        F.col("lon"),
        F.lag("lat").over(w).alias("_plat"),
        F.lag("lon").over(w).alias("_plon"),
    ).withColumn(
        "seg_micro",
        F.when(F.col("_plat").isNull(), F.lit(0).cast("bigint")).otherwise(seg),
    )
    return segs.groupBy(key_col).agg(
        F.count("*").alias("n_points"),
        F.sum("seg_micro").cast("bigint").alias("path_len_micro"),
        F.expr("CAST(FLOOR(MIN(lat) * 1000000) AS BIGINT)").alias("min_lat_micro"),
        F.expr("CAST(FLOOR(MAX(lat) * 1000000) AS BIGINT)").alias("max_lat_micro"),
        F.expr("CAST(FLOOR(MIN(lon) * 1000000) AS BIGINT)").alias("min_lon_micro"),
        F.expr("CAST(FLOOR(MAX(lon) * 1000000) AS BIGINT)").alias("max_lon_micro"),
    )


def trajectory_stats_oracle_sql(
    points_sql: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> str:
    seg = _segment_micro_sql("lat", "lon", "_plat", "_plon")
    return f"""
WITH pts AS ({points_sql}),
segs AS (
    SELECT {key_col}, lat, lon,
           LAG(lat) OVER w AS _plat, LAG(lon) OVER w AS _plon
    FROM pts WINDOW w AS (PARTITION BY {key_col} ORDER BY {ts_col}, {id_col})
)
SELECT {key_col}, COUNT(*) AS n_points,
       CAST(SUM(CASE WHEN _plat IS NULL THEN 0 ELSE {seg} END) AS BIGINT)
           AS path_len_micro,
       CAST(FLOOR(MIN(lat) * 1000000) AS BIGINT) AS min_lat_micro,
       CAST(FLOOR(MAX(lat) * 1000000) AS BIGINT) AS max_lat_micro,
       CAST(FLOOR(MIN(lon) * 1000000) AS BIGINT) AS min_lon_micro,
       CAST(FLOOR(MAX(lon) * 1000000) AS BIGINT) AS max_lon_micro
FROM segs GROUP BY {key_col}
""".strip()


def trajectory_stats_skewed(
    points: DataFrame,
    bucket_seconds: int = 7 * 86400,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Skew-proof twin of `trajectory_stats` (output-identical, pinned
    by test + the shared driver oracle): the per-key ordered pass runs
    within (key, time-bucket) so a hot key spreads over span/bucket
    tasks, then a merge pass adds the ONE boundary segment between
    consecutive buckets — computed from each bucket's first/last point,
    carried via min/max over a (ts, id, lat, lon) struct (lexicographic
    struct ordering = the event order, no extra window). Path sums are
    integer micro-degrees, so local + boundary composition is exact.
    """
    ep = f"CAST(CAST({ts_col} AS TIMESTAMP) AS DOUBLE)"
    w = Window.partitionBy(key_col, "_bucket").orderBy(
        F.col(ts_col), F.col(id_col)
    )
    seg = F.expr(_segment_micro_sql("lat", "lon", "_plat", "_plon"))
    segs = points.withColumn(
        "_bucket", F.expr(f"CAST(FLOOR({ep} / {bucket_seconds}) AS BIGINT)")
    ).select(
        F.col(key_col),
        F.col("_bucket"),
        F.col(ts_col),
        F.col(id_col),
        F.col("lat"),
        F.col("lon"),
        F.lag("lat").over(w).alias("_plat"),
        F.lag("lon").over(w).alias("_plon"),
    ).withColumn(
        "seg_micro",
        F.when(F.col("_plat").isNull(), F.lit(0).cast("bigint")).otherwise(seg),
    )
    local = segs.groupBy(key_col, "_bucket").agg(
        F.count("*").alias("n_points"),
        F.sum("seg_micro").cast("bigint").alias("path_micro"),
        F.min(F.struct(ts_col, id_col, "lat", "lon")).alias("_first"),
        F.max(F.struct(ts_col, id_col, "lat", "lon")).alias("_last"),
        F.expr("CAST(FLOOR(MIN(lat) * 1000000) AS BIGINT)").alias("min_lat_micro"),
        F.expr("CAST(FLOOR(MAX(lat) * 1000000) AS BIGINT)").alias("max_lat_micro"),
        F.expr("CAST(FLOOR(MIN(lon) * 1000000) AS BIGINT)").alias("min_lon_micro"),
        F.expr("CAST(FLOOR(MAX(lon) * 1000000) AS BIGINT)").alias("max_lon_micro"),
    )
    wm = Window.partitionBy(key_col).orderBy("_bucket")
    boundary = F.expr(
        _segment_micro_sql("_first.lat", "_first.lon", "_pl.lat", "_pl.lon")
    )
    merged = local.withColumn(
        "_pl", F.lag("_last").over(wm)
    ).withColumn(
        "bridge_micro",
        F.when(F.col("_pl").isNull(), F.lit(0).cast("bigint")).otherwise(boundary),
    )
    return merged.groupBy(key_col).agg(
        F.sum("n_points").cast("bigint").alias("n_points"),
        (F.sum("path_micro") + F.sum("bridge_micro"))
        .cast("bigint").alias("path_len_micro"),
        F.min("min_lat_micro").alias("min_lat_micro"),
        F.max("max_lat_micro").alias("max_lat_micro"),
        F.min("min_lon_micro").alias("min_lon_micro"),
        F.max("max_lon_micro").alias("max_lon_micro"),
    )


# ------------------------------------------------ cell-cover compaction


def _cell_xy_sql(lat_expr: str, lon_expr: str, level: int) -> tuple[str, str]:
    """Grid x/y at ``level`` — the two halves of cells.cell_id_sql,
    dialect-shared (FLOOR/LEAST/GREATEST on IEEE doubles)."""
    n = grid_size(level)
    x = (
        f"CAST(LEAST(GREATEST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}), 0),"
        f" {n - 1}) AS BIGINT)"
    )
    y = (
        f"CAST(LEAST(GREATEST(FLOOR(({lat_expr} + 90.0) / 180.0 * {n}), 0),"
        f" {n - 1}) AS BIGINT)"
    )
    return x, y


def compact_cell_cover(
    points: DataFrame,
    base_level: int,
    min_level: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Mixed-resolution compaction of a point set's cell cover — the
    H3 ``compact`` / S2 covering-normalization idiom on the GLQ grid
    (quad hierarchy: level-l cell (x, y) has parent (x DIV 2, y DIV 2)
    at l-1). A parent replaces its 4 children iff ALL 4 are fully
    covered, cascading from ``base_level`` up to ``min_level``; the
    result is the unique minimal mixed-level cover: output rows are
    (level, cell_id) with no cell an ancestor of another and the union
    of footprints exactly equal to the occupied base cells.

    Scale shape: ONE pass over the points (a map-side-combined
    distinct on the scan) reduces the input to occupied cells; every
    later step operates on the cell relation, whose size is bounded by
    4^base_level regardless of point count. Each promotion level is a
    groupBy on the shrinking parent key (cells only), and each output
    level is one broadcast-friendly anti-join against the next-coarser
    full set — at 10^12 points the compaction costs the distinct plus
    (base_level - min_level) tiny aggregations.
    """
    if not (0 <= min_level < base_level):
        raise ValueError(
            f"need 0 <= min_level < base_level, got {min_level}, {base_level}"
        )
    x_sql, y_sql = _cell_xy_sql(lat_col, lon_col, base_level)
    full: dict[int, DataFrame] = {
        base_level: points.selectExpr(
            f"{x_sql} AS x", f"{y_sql} AS y"
        ).distinct()
    }
    for lvl in range(base_level - 1, min_level - 1, -1):
        full[lvl] = (
            full[lvl + 1]
            .selectExpr("x DIV 2 AS x", "y DIV 2 AS y")
            .groupBy("x", "y")
            .count()
            .where("count = 4")
            .select("x", "y")
        )
    pieces = []
    for lvl in range(min_level, base_level + 1):
        cells = full[lvl]
        if lvl > min_level:
            parents = full[lvl - 1].selectExpr(
                "x AS px", "y AS py"
            )
            cells = (
                cells.join(
                    parents,
                    (F.expr("x DIV 2") == F.col("px"))
                    & (F.expr("y DIV 2") == F.col("py")),
                    "left_anti",
                )
            )
        pieces.append(
            cells.selectExpr(
                f"CAST({lvl} AS INT) AS level",
                f"CAST(y * {grid_size(lvl)} + x AS BIGINT) AS cell_id",
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def compact_cell_cover_oracle_sql(
    points_sql: str,
    base_level: int,
    min_level: int,
    lat_expr: str = "lat",
    lon_expr: str = "lon",
) -> str:
    """The identical cascade as chained DuckDB CTEs (`//` is DuckDB's
    integer division where Spark uses DIV; everything else is shared
    text). ``points_sql`` must yield ``lat_expr``/``lon_expr``."""
    x_sql, y_sql = _cell_xy_sql(lat_expr, lon_expr, base_level)
    ctes = [
        f"f{base_level} AS (SELECT DISTINCT {x_sql} AS x, {y_sql} AS y "
        f"FROM ({points_sql}))"
    ]
    for lvl in range(base_level - 1, min_level - 1, -1):
        ctes.append(
            f"f{lvl} AS (SELECT x // 2 AS x, y // 2 AS y FROM f{lvl + 1} "
            f"GROUP BY 1, 2 HAVING COUNT(*) = 4)"
        )
    selects = []
    for lvl in range(min_level, base_level + 1):
        anti = (
            ""
            if lvl == min_level
            else (
                f" ANTI JOIN f{lvl - 1} p ON f{lvl}.x // 2 = p.x "
                f"AND f{lvl}.y // 2 = p.y"
            )
        )
        selects.append(
            f"SELECT CAST({lvl} AS INT) AS level, "
            f"CAST(f{lvl}.y * {grid_size(lvl)} + f{lvl}.x AS BIGINT) AS cell_id "
            f"FROM f{lvl}{anti}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


# ------------------------------------------------------ grid clustering


def grid_cluster(
    points: DataFrame,
    level: int,
    min_pts: int,
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    stats: dict | None = None,
    checkpoint=None,
) -> DataFrame:
    """DBSCAN-style density clustering on the GLQ grid: a cell is CORE
    when >= ``min_pts`` points land in it; core cells that are
    8-adjacent merge into one cluster (connected components); every
    point in a core cell gets its cluster label (min cell_id reachable
    through adjacent core cells — deterministic, order-free). Points in
    sparse cells are noise and are dropped. This is the standard
    scalable approximation of DBSCAN (grid variant: cell side plays
    eps, per-cell count plays the neighborhood threshold) — exact
    point-radius DBSCAN needs an all-pairs range join; the grid form
    needs ONE aggregation over the points.

    Scale shape (100 TB): the only point-sized operations are the
    per-cell count (map-side combined, one shuffle on cell_id) and the
    final label join (the core-cell label relation is bounded by the
    occupied-cell count, broadcast-able in practice; AQE decides).
    Adjacency is an equi-join of the core-cell relation against itself
    on 4 forward neighbor ids (each unordered 8-adjacent pair generated
    once), and component resolution reuses ``duplicate_clusters`` —
    O(log diameter) rounds over the CELL relation, never the points.
    A hot cell is just a big count — skew never concentrates rows.

    Output: (``id_col``, cell_id, cluster_id) for points in core cells.

    ``checkpoint``: DataFrame -> DataFrame hook that cuts the core
    relation's lineage (VERDICT r7 item 6). Default is a lazy local
    checkpoint retained by ``pipeline.materialize`` — right for the
    sandbox, but an executor loss at scale recomputes the point-sized
    aggregation; on a real cluster pass e.g.
    ``lambda df: df.checkpoint(eager=False)`` (reliable, survives
    executor loss) after ``setCheckpointDir``.
    """
    from ..pipeline.dedup import duplicate_clusters

    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    if checkpoint is None:
        checkpoint = retained
    n = grid_size(level)
    pts = points.selectExpr(
        id_col, f"{cell_id_sql(lat_col, lon_col, level)} AS cell_id"
    )
    # lineage cut: the core relation is cell-sized, but its lineage
    # contains the point-sized aggregation — without the cut, that
    # scan+groupBy re-executes for each side of the adjacency
    # self-join and AGAIN in the final label join's downstream actions
    # (round-7 review)
    core = checkpoint(
        pts.groupBy("cell_id")
        .agg(F.count("*").alias("n_pts"))
        .where(F.col("n_pts") >= min_pts)
        .select("cell_id")
    )
    # forward half of the 8-neighborhood: E, SW, S, SE — each unordered
    # adjacent pair appears exactly once. Guards clamp at the grid edge
    # (x arithmetic on raw ids would wrap row-major across rows).
    nbrs = []
    for dx, dy in ((1, 0), (-1, 1), (0, 1), (1, 1)):
        nbrs.append(
            f"IF(x + {dx} >= 0 AND x + {dx} < {n} AND y + {dy} < {n}, "
            f"(y + {dy}) * {n} + (x + {dx}), NULL)"
        )
    edges = (
        core.selectExpr("cell_id", f"cell_id % {n} AS x", f"cell_id DIV {n} AS y")
        .select(
            "cell_id",
            F.explode(F.array(*[F.expr(e) for e in nbrs])).alias("nbr"),
        )
        .where(F.col("nbr").isNotNull())
        .join(core.select(F.col("cell_id").alias("nbr")), "nbr")
        .select(F.col("cell_id").alias("doc_a"), F.col("nbr").alias("doc_b"))
    )
    labels = duplicate_clusters(edges, stats=stats).select(
        F.col("doc_id").alias("cell_id"), "cluster_id"
    )
    # isolated core cells (no adjacent core neighbor) are their own
    # singleton cluster: label = own cell id
    core_labels = core.join(labels, "cell_id", "left").select(
        "cell_id", F.coalesce("cluster_id", "cell_id").alias("cluster_id")
    )
    return pts.join(core_labels, "cell_id").select(id_col, "cell_id", "cluster_id")


def grid_cluster_oracle_sql(
    points_sql: str,
    level: int,
    min_pts: int,
    id_col: str = "event_id",
    lat_expr: str = "lat",
    lon_expr: str = "lon",
) -> str:
    """DuckDB mirror in spec form: core cells by HAVING, adjacency as a
    coordinate-delta self-join (wrap-safe by construction — x/y are
    derived per cell, so no edge guard is needed), components via the
    shared recursive-CTE closure, singletons by COALESCE."""
    from ..pipeline.dedup import clusters_oracle_from_pairs

    n = grid_size(level)
    # the shared closure emits its own WITH RECURSIVE; used as a
    # parenthesized subquery it may reference our outer grid_edges CTE
    # (DuckDB scopes outer CTEs into subqueries), and its internal CTE
    # names (pairs/edges/reach) stay local — no collision with ours
    closure = clusters_oracle_from_pairs(
        "SELECT doc_a, doc_b FROM grid_edges", out_id="cell_id"
    )
    return f"""
WITH pts AS ({points_sql}),
cells AS (
    SELECT {id_col}, {cell_id_sql(lat_expr, lon_expr, level)} AS cell_id FROM pts
),
core AS (
    SELECT cell_id FROM cells GROUP BY cell_id HAVING COUNT(*) >= {min_pts}
),
xy AS (SELECT cell_id, cell_id % {n} AS x, cell_id // {n} AS y FROM core),
grid_edges AS (
    SELECT a.cell_id AS doc_a, b.cell_id AS doc_b
    FROM xy a JOIN xy b
      ON (b.x = a.x + 1 AND b.y = a.y)
      OR (b.x = a.x - 1 AND b.y = a.y + 1)
      OR (b.x = a.x     AND b.y = a.y + 1)
      OR (b.x = a.x + 1 AND b.y = a.y + 1)
),
labels AS (SELECT * FROM ({closure}) closure_q)
SELECT c.{id_col}, c.cell_id,
       COALESCE(l.cluster_id, c.cell_id) AS cluster_id
FROM cells c
JOIN core k ON k.cell_id = c.cell_id
LEFT JOIN labels l ON l.cell_id = c.cell_id
""".strip()
