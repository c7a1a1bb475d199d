"""Streaming JSON ingest with decode-and-drop semantics (S1-S4).

The reference consumes Kafka topics and decodes with
``Json.parse(...).asOpt[T]``, silently dropping malformed records
(``TrafficStreamProcessor.scala:35-49``).  The Structured Streaming
re-expression: ``from_json`` (returns null on malformed) + an
``isNotNull`` filter — Catalyst prunes the parse to only referenced
fields, and the drop happens before any shuffle.

The decode runs on the ``value`` column of whatever source feeds
``TrafficPipeline.run``: a Kafka source subscribed to both input
topics, or a text file stream of the same JSON lines.  Event time
comes from the payload's epoch-millis ``ts`` (the W7 upgrade — the
reference carried ts but windowed on processing time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def decode_json_stream(raw: DataFrame, schema: T.StructType, value_col: str = "value") -> DataFrame:
    """Parse ``value_col`` JSON strings into ``schema``; drop rows that
    fail to decode; convert epoch-millis ts to an event-time column.

    PERMISSIVE ``from_json`` maps corrupt records to an all-null
    struct (not a null struct), so the drop predicate requires every
    top-level field non-null — matching the reference's ``asOpt[T]``,
    which fails the decode if any case-class field is absent.
    """
    parsed = raw.select(F.from_json(F.col(value_col), schema).alias("e"))
    required = [F.col(f"e.{f.name}").isNotNull() for f in schema.fields]
    cond = required[0]
    for c in required[1:]:
        cond = cond & c
    valid = parsed.where(F.col("e").isNotNull() & cond).select("e.*")
    if "ts" in valid.columns:
        valid = valid.withColumn("event_time", F.timestamp_millis(F.col("ts")))
    return valid

