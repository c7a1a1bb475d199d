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
(subscriber.id, celltower.cell, point JSON) order by an
``array_sort`` over the ``collect_list``, so neither the order nor the
fences depend on the order in which partitions merge.

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
emits a single array message per interval.  The same list gives each
cluster's IQR fences, so flagging the outliers costs no shuffle, sort
or join of its own.
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
# a point's JSON up to its outlier flag; the flag and '  }' close it
POINT_FMT = (
    '{  "subscriber": %s ,  "celltower": %s ,  "point": %s ,'
    '  "prediction": %s ,  "centroid": %s ,  "distance": %s ,'
    '  "outlier": '
)

# The reference's fences for a cluster of n <= 4 points: Scala's
# Double.MinValue and Double.MaxValue (ClusterAnalyser.scala:157-170)
DOUBLE_MIN = -1.7976931348623157e308
DOUBLE_MAX = 1.7976931348623157e308


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


def cluster_points_payload(points: DataFrame) -> DataFrame:
    """ONE (value: string) message per batch in the reference's
    ``{ "points":  [...] }`` shape (``ClusterAnalyser.scala:62-65``;
    point shape ``package.scala:47-57``), every point with its
    ``outlier`` flag.

    ``points``: output of ``TrafficPipeline.anomalies`` (subscriber,
    celltower, point, prediction, centroid, distance), every scored
    point of the batch.

    The flags come from the reference's A4/A5 fences
    (``ClusterAnalyser.scala:47-58,157-170``), built from the one
    ``collect_list`` the message needs anyway, as the reference builds
    them from one list per cluster: each cluster's distances sorted,
    q1 = sorted[n DIV 4] and q3 = sorted[3n DIV 4] 0-based, fences
    q1 - 1.5·IQR and q3 + 1.5·IQR, ±DBL_MAX at n <= 4.  A point is an
    outlier when its distance lies outside its cluster's fences.
    ``1.5D`` because a bare ``1.5`` parses as DECIMAL."""
    point_json = (
        f"format_string({sql_str(POINT_FMT)}, to_json(subscriber),"
        " to_json(celltower), to_json(point), CAST(prediction AS STRING),"
        " to_json(centroid), CAST(distance AS STRING))"
    )
    one = points.selectExpr(
        "collect_list(named_struct('_sid', subscriber.id, '_cell', celltower.cell,"
        f" 'p', prediction, 'd', distance, 'j', {point_json})) AS _ps"
    )
    # each cluster's distances, sorted
    by_cluster = one.selectExpr(
        "_ps",
        "transform(array_distinct(transform(_ps, s -> s.p)), p -> named_struct("
        "'p', p, 'v', array_sort(transform(filter(_ps, s -> s.p = p), s -> s.d))))"
        " AS _sv",
    )
    q1, q3 = "g.v[size(g.v) DIV 4]", "g.v[3 * size(g.v) DIV 4]"
    fences = by_cluster.selectExpr(
        "_ps",
        "map_from_entries(transform(_sv, g -> struct(g.p, named_struct("
        f"'lo', IF(size(g.v) <= 4, {DOUBLE_MIN!r}D, {q1} - 1.5D * ({q3} - {q1})),"
        f" 'hi', IF(size(g.v) <= 4, {DOUBLE_MAX!r}D, {q3} + 1.5D * ({q3} - {q1}))"
        ")))) AS _f",
    )
    flagged = fences.selectExpr(
        "array_sort(transform(_ps, s -> named_struct('_sid', s._sid, '_cell', s._cell,"
        " 'j', concat(s.j, CAST(s.d < _f[s.p].lo OR s.d > _f[s.p].hi AS STRING), '  }'))))"
        " AS _ps"
    )
    return flagged.selectExpr(
        "concat('{ \"points\":  [', array_join(transform(_ps, s -> s.j), ','), '] }')"
        " AS value"
    )
