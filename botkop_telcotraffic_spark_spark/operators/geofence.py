"""Geofence containment (operators J3/S5 in SURVEY.md §2.4).

The reference flatMaps every event against an executor-local list of
polygons with an external point-in-polygon helper
(``GeoUtil.containsLocation``, ``Geofencer.scala:27-31``).  Here
``polygon_geofence_join`` unrolls that driver-local fence list into
ONE literal ray-casting SQL expression (``point_in_polygon_literal``,
the standard even-odd test), so containment is one codegen'd scan
with array/explode: no join, so nothing is hashed or broadcast, and
no driver job.

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

from ..functions.sqlfn import sql_double, sql_ident

# (name, [(lat, lng), ...]) — a driver-local fence list, the
# reference's own representation (Geofencer.scala:18)
FenceList = Sequence[tuple[str, Sequence[tuple[float, float]]]]


def point_in_polygon_literal(
    px: str, py: str, vertices: list[tuple[float, float]]
) -> str:
    """Ray casting against a *plan-time constant* polygon, unrolled
    into ONE SQL expression: one crossing term per edge, parity via
    sum % 2.  ``px``/``py`` are SQL expressions; ``vertices`` is
    [(x, y), ...] in the same axis order, not repeating the first
    vertex (the last edge wraps around).  No higher-order functions,
    so it stays inside whole-stage codegen (~20x faster per row than
    a higher-order test over a polygon column), and as text it costs
    one JVM parse instead of a Py4J round-trip per Column node.
    A horizontal edge (y_i == y_j) can never satisfy the crossing
    test, so it gets no term.

    Each term computes ``(xj - xi) * (py - yi) / (yj - yi) + xi`` in
    that order, with ``xj - xi`` and ``yj - yi`` folded in Python:
    the hits are bit-identical to a Python ray cast with the same
    operations.  Coordinates go in through ``sql_double`` (NaN/±Inf
    raise ValueError).
    """
    n = len(vertices)
    terms = []
    for i in range(n):
        xi, yi = vertices[i]
        xj, yj = vertices[(i + 1) % n]
        if yi == yj:
            continue  # horizontal edge can never satisfy the crossing test
        sxi, syi, syj = sql_double(xi), sql_double(yi), sql_double(yj)
        terms.append(
            f"CAST((({syi} > {py}) != ({syj} > {py})) AND ({px} < "
            f"({py} - {syi}) * {sql_double(xj - xi)} / {sql_double(yj - yi)}"
            f" + {sxi}) AS INT)"
        )
    if not terms:
        return "false"
    return f"(({' + '.join(terms)}) % 2 = 1)"


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
