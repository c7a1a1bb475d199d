"""Geofence containment (operators J3/S5 in SURVEY.md §2.4).

The reference flatMaps every event against an executor-local list of
polygons with an external point-in-polygon helper
(``Geofencer.scala:27-31``).  Here ``polygon_geofence_join`` unrolls
that driver-local fence list into literal ray-casting column
expressions, so containment is one codegen'd scan with array/explode:
no join and no driver job.  ``rect_geofence_join`` matches a table of
rectangles through a broadcast cross join.

Scale notes: geofence sets are small (dozens-thousands of polygons)
and the scan is embarrassingly partition-parallel on the points side.
For huge fence sets, pre-filter with a bounding-box range join
(min/max lat/lng columns are cheap to derive) before the exact test.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import point_in_polygon_literal

# (name, [(lat, lng), ...]) — a driver-local fence list, the
# reference's own representation (Geofencer.scala:18)
FenceList = Sequence[tuple[str, Sequence[tuple[float, float]]]]


def rect_geofence_join(
    points: DataFrame,
    fences: DataFrame,
    x_col: str = "lng",
    y_col: str = "lat",
) -> DataFrame:
    """Axis-aligned rectangle containment join.

    ``fences`` columns: name, lat_min, lat_max, lng_min, lng_max.
    Inner semantics (non-matching points dropped), like the reference.
    """
    cond = (
        F.col(y_col).between(F.col("lat_min"), F.col("lat_max"))
        & F.col(x_col).between(F.col("lng_min"), F.col("lng_max"))
    )
    return points.crossJoin(F.broadcast(fences)).where(cond)


def polygon_geofence_join(
    points: DataFrame,
    fences: FenceList,
    x_col: str = "lng",
    y_col: str = "lat",
    name_col: str = "name",
) -> DataFrame:
    """Point-in-polygon containment join (ray casting, pure exprs).

    ``fences``: a plain driver-local fence list, the reference's own
    regime (its geofences are a local variable, Geofencer.scala:18).
    One output row per (point, containing fence) — the reference's
    flatMap/UDTF shape (SURVEY.md §2.11).

    Each polygon's edges are unrolled into literal codegen'd
    expressions at plan time; containment is ONE scan with
    array/explode — no join, no driver jobs, and trivially
    partition-parallel at any point volume.
    """
    named_polys = [
        (name, [(float(lng), float(lat)) for lat, lng in poly])
        for name, poly in fences
    ]
    px, py = F.col(x_col), F.col(y_col)
    hits = [
        F.when(point_in_polygon_literal(px, py, poly), F.lit(name))
        for name, poly in named_polys
    ]
    matched = F.filter(F.array(*hits), lambda x: x.isNotNull())
    return points.withColumn(name_col, F.explode(matched))
