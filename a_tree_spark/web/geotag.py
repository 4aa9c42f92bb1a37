"""Geotagging: URL ccTLD + embedded geo metadata -> lat/lon -> cell id.

Entirely JVM-side (SURVEY.md §2.4): a broadcast join against the tiny
ccTLD-centroid dimension, coalesce, then the arithmetic cell encode —
the whole geotag stage lives inside whole-stage codegen with one
broadcast exchange and zero Python workers. The fused page kernel
(web/pipeline.py) reads the same centroids, ``TLD_CENTROIDS``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..spatial.cells import DEFAULT_LEVEL, cell_id_sql
from .synth import TLD_TABLE

#: ccTLD -> (centroid lat, centroid lon). A url's tld is the last
#: dotted component of its authority, so 'co-uk' (host.co.uk) keys
#: under 'uk'.
TLD_CENTROIDS: dict[str, tuple[float, float]] = {
    t.split("-")[-1]: (lat, lon) for t, _lang, lat, lon, _w in TLD_TABLE
}


def centroid_df(spark) -> DataFrame:
    return spark.createDataFrame(
        [(t, lat, lon) for t, (lat, lon) in TLD_CENTROIDS.items()],
        "tld string, centroid_lat double, centroid_lon double",
    )


def geotag_pages(pages: DataFrame, level: int = DEFAULT_LEVEL) -> DataFrame:
    """Adds lat, lon (meta-geo first, ccTLD centroid fallback) and
    cell_id to ``with_page_features`` output, which carries the
    meta_lat, meta_lon and tld columns. Pages with neither signal keep
    NULL lat/lon/cell_id."""
    tagged = pages.join(F.broadcast(centroid_df(pages.sparkSession)), "tld", "left")
    tagged = (
        tagged.withColumn("lat", F.coalesce("meta_lat", "centroid_lat"))
        .withColumn("lon", F.coalesce("meta_lon", "centroid_lon"))
        .drop("centroid_lat", "centroid_lon")
    )
    return tagged.withColumn(
        "cell_id",
        F.when(
            F.col("lat").isNotNull() & F.col("lon").isNotNull(),
            F.expr(cell_id_sql("lat", "lon", level)),
        ),
    )
