"""Geofence containment (operators J3/S5 in SURVEY.md §2.4).

The reference flatMaps every event against an executor-local list of
polygons with an external point-in-polygon helper
(``Geofencer.scala:27-31``).  Here ``polygon_geofence_join`` unrolls
that driver-local fence list into ONE literal ray-casting SQL
expression, so containment is one codegen'd scan with array/explode:
no join, so nothing is hashed or broadcast, and no driver job.
``rect_geofence_join`` matches a table of rectangles through a
broadcast cross join (the fence table is the broadcast side).

Scale notes: geofence sets are small (dozens-thousands of polygons)
and the scan is embarrassingly partition-parallel on the points side.
For huge fence sets, pre-filter with a bounding-box range join
(min/max lat/lng columns are cheap to derive) before the exact test.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import point_in_polygon_literal
from ..functions.sqlfn import sql_ident

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
    partition-parallel at any point volume.  The containment tests
    are one SQL expression (``array(<hit 0>, <hit 1>, ...)``) parsed
    JVM-side in one call.  The fence names never enter SQL text: they
    are one JSON string literal decoded to an array (folded to a
    constant by the optimizer) and zipped against the hits.
    """
    px, py = sql_ident(x_col), sql_ident(y_col)
    hits = F.expr("CAST(array({}) AS ARRAY<BOOLEAN>)".format(", ".join(
        point_in_polygon_literal(
            px, py, [(float(lng), float(lat)) for lat, lng in poly]
        )
        for _, poly in fences
    )))
    names = F.from_json(F.lit(json.dumps([name for name, _ in fences])), "array<string>")
    matched = F.filter(
        F.zip_with(names, hits, lambda name, hit: F.when(hit, name)),
        lambda x: x.isNotNull(),
    )
    return points.withColumn(name_col, F.explode(matched))
