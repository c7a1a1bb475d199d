"""Reference-exact Kafka payload shapes for the 4 output topics.

The reference hand-builds its JSON messages rather than using a
serializer, so the byte shape (spacing included) is part of its
output contract:

- subscriber/celltower metric stats
  (``MetricStatsProducer.scala:28-31,50-53`` +
  ``MetricStats.scala:16-23``):
  ``{ "subscriber":<J>, "stats":{ "<metric>": { "count":N,
  "mean":F, "stdev":F, "max":F, "min":F } ,...} }`` where ``F`` is
  Java ``%f`` (6-decimal fixed) and the stats map entries carry one
  leading/trailing space each.
- geofence matches (``Geofencer.scala:33-37``):
  ``{ "subscriber": <J>, "celltower": <J>, "geofence": <J> }``.
- K-Means outliers (``ClusterAnalyser.scala:62-65`` +
  ``package.scala:47-57``): ONE message per batch,
  ``{ "points":  [<point>,...] }``, each point
  ``{  "subscriber": <J> ,  "celltower": <J> ,  "point": [..] ,
  "prediction": N ,  "centroid": [..] ,  "distance": D ,
  "outlier": B  }`` (double spaces from the reference's interpolation
  of space-padded fragments).

All builders are pure expressions over the pipeline's batch
outputs (``streaming/pipeline.py``) — ``format_string`` delegates to
``java.lang.String.format``, the same formatter the reference's
Scala ``.format`` uses, and ``to_json`` renders the Subscriber /
Celltower structs in declaration order (``schemas.py`` mirrors the
case-class field order), so numeric and string cells render
identically on the same JVM.

Determinism for golden tests: map-entry order (Scala ``Map`` is
unordered) is pinned at plan time by the sorted metric list of
``TrafficPipeline.metric_stats_fused``; the points array is pinned to
(subscriber.id, celltower.cell) order via
``array_sort(collect_list(struct(...)))``, associative and
merge-order-free.

Every builder is SQL text parsed JVM-side in one call, not a Column
tree built one Py4J round-trip per node; outside strings (entity and
metric names, format strings) enter it only through
``functions/sqlfn.py::sql_str``/``sql_ident``.

Scale shape: the stats payload is a row-wise projection of the
upstream aggregate (no shuffle of its own); the geofence payload is a
projection of the matches over a constant fence array — no join, so
no side is hashed or broadcast; the points message is one
``collect_list`` per micro-batch by reference contract (its
``repartition(1).glom()``) — batch-sized by design, the reference
emits a single array message per interval.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqlfn import sql_ident, sql_str

# read_geofences' list as JSON: field order is the payload's byte order
FENCE_LIST = (
    "array<struct<name:string, path:string,"
    " polygon:array<struct<lat:double, lng:double>>>>"
)

STAT_ENTRY_FMT = (
    ' "%s": { "count":%d, "mean":%f, "stdev":%f, "max":%f, "min":%f } '
)
POINT_FMT = (
    '{  "subscriber": %s ,  "celltower": %s ,  "point": %s ,'
    '  "prediction": %s ,  "centroid": %s ,  "distance": %s ,'
    '  "outlier": %s  }'
)


def metric_stats_payload(stats: DataFrame, entity_col: str) -> DataFrame:
    """(value: string) messages — one per (entity, window) — in the
    reference's subscriber/celltower stats shape.

    ``stats``: a frame of ``TrafficPipeline.metric_stats_fused``
    (columns window_start, window_end, <entity_col>, stats: array of
    struct(metric, n, mean, stdev, vmax, vmin))."""
    head = sql_str(f'{{ "{entity_col}":')
    entry = (
        f"format_string({sql_str(STAT_ENTRY_FMT)},"
        " s.metric, s.n, s.mean, s.stdev, s.vmax, s.vmin)"
    )
    entries = f"array_join(transform(stats, s -> {entry}), ',')"
    return stats.selectExpr(
        f"concat({head}, to_json({sql_ident(entity_col)}), ', \"stats\":{{',"
        f" {entries}, '}} }}') AS value"
    )


def geofence_payload(matches: DataFrame, fences: list) -> DataFrame:
    """(value: string) messages in ``Geofencer.scala:33-37`` shape.

    ``matches``: output of ``TrafficPipeline.geofence_matches``
    (subscriber, celltower, geofence=name); ``fences``: the side
    input as ``read_geofences`` returns it, ``[(name, path, [(lat,
    lng)])]``.  The whole list enters the plan as ONE JSON string
    literal decoded by ``from_json``, which the optimizer folds to a
    constant array, and so does its ``name`` column.  Each match finds
    its fence's position in the names and renders that fence with
    ``to_json``: a projection, no join, and a handful of Py4J calls
    whatever the fence count.  Doubles survive the round trip bit for
    bit (``repr`` out, a correctly rounded parse in), so the bytes are
    those of the fence as read.  A name missing from ``fences`` gives
    a null message, as a map lookup would."""
    listed = F.from_json(
        F.lit(json.dumps([
            {
                "name": name,
                "path": path,
                "polygon": [{"lat": lat, "lng": lng} for lat, lng in poly],
            }
            for name, path, poly in fences
        ])),
        FENCE_LIST,
    )
    fence = F.get(listed, F.array_position(listed["name"], F.col("geofence")) - 1)
    value = F.concat(
        F.lit('{ "subscriber": '),
        F.to_json(F.col("subscriber")),
        F.lit(', "celltower": '),
        F.to_json(F.col("celltower")),
        F.lit(', "geofence": '),
        F.to_json(fence),
        F.lit(" }"),
    )
    return matches.select(value.alias("value"))


def cluster_points_payload(outliers: DataFrame) -> DataFrame:
    """ONE (value: string) message per batch in the reference's
    ``{ "points":  [...] }`` shape (``ClusterAnalyser.scala:62-65``;
    point shape ``package.scala:47-57``).

    ``outliers``: output of ``TrafficPipeline.anomalies``
    (subscriber, celltower, point, prediction, centroid, distance,
    lo, hi) — ``outlier`` is re-derived exactly as the reference
    stores it (distance outside [lo, hi])."""
    point_json = (
        f"format_string({sql_str(POINT_FMT)}, to_json(subscriber),"
        " to_json(celltower), to_json(point), CAST(prediction AS STRING),"
        " to_json(centroid), CAST(distance AS STRING),"
        " CAST(distance < lo OR distance > hi AS STRING))"
    )
    one = outliers.selectExpr(
        "array_sort(collect_list(named_struct('_sid', subscriber.id,"
        f" '_cell', celltower.cell, 'j', {point_json}))) AS _ps"
    )
    return one.selectExpr(
        "concat('{ \"points\":  [', array_join(transform(_ps, s -> s.j), ','), '] }')"
        " AS value"
    )
