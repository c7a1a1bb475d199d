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

All builders are pure column expressions over the pipeline's batch
outputs (``streaming/pipeline.py``) — ``format_string`` delegates to
``java.lang.String.format``, the same formatter the reference's
Scala ``.format`` uses, and ``to_json`` renders the Subscriber /
Celltower structs in declaration order (``schemas.py`` mirrors the
case-class field order), so numeric and string cells render
identically on the same JVM.

Determinism for golden tests: map-entry order (Scala ``Map`` is
unordered) is pinned to sorted metric name, and the points array is
pinned to (subscriber.id, celltower.cell) order — both via
``array_sort(collect_list(struct(...)))``, associative and
merge-order-free.

Scale shape: stats/geofence payloads are row-wise projections (no
extra shuffle beyond the upstream aggregate); the points message is
one ``collect_list`` per micro-batch by reference contract (its
``repartition(1).glom()``) — batch-sized by design, the reference
emits a single array message per interval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STAT_ENTRY_FMT = (
    ' "%s": { "count":%d, "mean":%f, "stdev":%f, "max":%f, "min":%f } '
)


def metric_stats_payload(stats: DataFrame, entity_col: str) -> DataFrame:
    """(value: string) messages — one per (entity, window) — in the
    reference's subscriber/celltower stats shape.

    ``stats``: a slice of ``TrafficPipeline.metric_stats_fused`` (columns
    window_start, window_end, <entity_col>, metric, n, mean, stdev,
    vmax, vmin)."""
    entry = F.format_string(
        STAT_ENTRY_FMT,
        F.col("metric"),
        F.col("n"),
        F.col("mean"),
        F.col("stdev"),
        F.col("vmax"),
        F.col("vmin"),
    )
    grouped = (
        stats.groupBy(entity_col, "window_start", "window_end")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("metric"), entry.alias("e")))
            ).alias("_es")
        )
    )
    stats_json = F.concat(
        F.lit("{"),
        F.array_join(F.transform(F.col("_es"), lambda s: s["e"]), ","),
        F.lit("}"),
    )
    value = F.concat(
        F.lit(f'{{ "{entity_col}":'),
        F.to_json(F.col(entity_col)),
        F.lit(', "stats":'),
        stats_json,
        F.lit(" }"),
    )
    return grouped.select(value.alias("value"))


def geofence_payload(matches: DataFrame, fences: DataFrame) -> DataFrame:
    """(value: string) messages in ``Geofencer.scala:33-37`` shape.

    ``matches``: output of ``TrafficPipeline.geofence_matches``
    (subscriber, celltower, geofence=name); ``fences``: the side
    input (name, path, polygon) — broadcast-joined back so the
    payload carries the full geofence object like the reference."""
    f = fences.select(
        F.col("name").alias("_gf_name"),
        F.to_json(F.struct("name", "path", "polygon")).alias("_gf_json"),
    )
    joined = matches.join(
        F.broadcast(f), matches["geofence"] == f["_gf_name"], "left"
    )
    value = F.concat(
        F.lit('{ "subscriber": '),
        F.to_json(F.col("subscriber")),
        F.lit(', "celltower": '),
        F.to_json(F.col("celltower")),
        F.lit(', "geofence": '),
        F.col("_gf_json"),
        F.lit(" }"),
    )
    return joined.select(value.alias("value"))


def cluster_points_payload(outliers: DataFrame) -> DataFrame:
    """ONE (value: string) message per batch in the reference's
    ``{ "points":  [...] }`` shape (``ClusterAnalyser.scala:62-65``;
    point shape ``package.scala:47-57``).

    ``outliers``: output of ``TrafficPipeline.anomalies``
    (subscriber, celltower, point, prediction, centroid, distance,
    lo, hi) — ``outlier`` is re-derived exactly as the reference
    stores it (distance outside [lo, hi])."""
    point_json = F.format_string(
        '{  "subscriber": %s ,  "celltower": %s ,  "point": %s ,'
        '  "prediction": %s ,  "centroid": %s ,  "distance": %s ,'
        '  "outlier": %s  }',
        F.to_json(F.col("subscriber")),
        F.to_json(F.col("celltower")),
        F.to_json(F.col("point")),
        F.col("prediction").cast("string"),
        F.to_json(F.col("centroid")),
        F.col("distance").cast("string"),
        (
            (F.col("distance") < F.col("lo"))
            | (F.col("distance") > F.col("hi"))
        ).cast("string"),
    )
    one = outliers.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("subscriber.id").alias("_sid"),
                    F.col("celltower.cell").alias("_cell"),
                    point_json.alias("j"),
                )
            )
        ).alias("_ps")
    )
    value = F.concat(
        F.lit('{ "points":  ['),
        F.array_join(F.transform(F.col("_ps"), lambda s: s["j"]), ","),
        F.lit("] }"),
    )
    return one.select(value.alias("value"))
