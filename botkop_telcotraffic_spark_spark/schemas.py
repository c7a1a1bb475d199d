"""Telco data model as Spark schemas (SURVEY.md §1).

Mirrors the reference's case classes
(``/root/reference/src/main/scala/traffic/model/package.scala:10-45``):
Celltower, Subscriber, AttachEvent, CelltowerEvent.  ``metrics`` is
the dynamic part — MapType, metric names are data not schema.
"""

from __future__ import annotations

from pyspark.sql import types as T

LATLNG = T.StructType(
    [
        T.StructField("lat", T.DoubleType()),
        T.StructField("lng", T.DoubleType()),
    ]
)

CELLTOWER = T.StructType(
    [
        T.StructField("mcc", T.IntegerType()),
        T.StructField("mnc", T.IntegerType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("area", T.IntegerType()),
        T.StructField("location", LATLNG),
    ]
)

SUBSCRIBER = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("imsi", T.StringType()),
        T.StructField("msisdn", T.StringType()),
        T.StructField("imei", T.StringType()),
        T.StructField("lastName", T.StringType()),
        T.StructField("firstName", T.StringType()),
        T.StructField("address", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("zip", T.StringType()),
        T.StructField("country", T.StringType()),
    ]
)

ATTACH_EVENT = T.StructType(
    [
        T.StructField("bearerId", T.StringType()),
        T.StructField("subscriber", SUBSCRIBER),
        T.StructField("topic", T.StringType()),
        T.StructField("ts", T.LongType()),  # epoch millis
    ]
)

CELLTOWER_EVENT = T.StructType(
    [
        T.StructField("celltower", CELLTOWER),
        T.StructField("bearerId", T.StringType()),
        T.StructField("metrics", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("topic", T.StringType()),
        T.StructField("ts", T.LongType()),  # epoch millis
    ]
)
