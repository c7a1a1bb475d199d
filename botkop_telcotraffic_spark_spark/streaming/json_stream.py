"""Streaming JSON ingest with decode-and-drop semantics (S1-S4).

The reference consumes Kafka topics and decodes with
``Json.parse(...).asOpt[T]``, silently dropping malformed records
(``TrafficStreamProcessor.scala:35-49``).  The Structured Streaming
re-expression: ``from_json`` (returns null on malformed) + an
every-field ``IS NOT NULL`` filter, so the drop happens before any
shuffle.

Each line is parsed ONCE.  Left to itself, Catalyst pushes the null
filter below the projection of the parsed struct and splits it into
one pruned ``from_json`` per referenced field: the optimized plan of
a ``CELLTOWER_EVENT`` decode held 7 parses per line (6 for
``ATTACH_EVENT``).  Those copies also inflated the decoded batch's
size estimate (5.0 MB for 5k events), enough for the planner to hash
the 50k-row attach store instead of the batch in the enrichment
join.  The parse therefore sits inside a ``Generate``
(``inline(array(from_json(...)))``), which the filter is not pushed
through: one ``from_json`` per line, and a size estimate (1.2 MB)
that lets the join hash the batch.

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

from ..functions.sqlfn import sql_ident


def decode_json_stream(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """Parse the ``value`` column's JSON strings into ``schema``; drop
    rows that fail to decode; convert epoch-millis ts to an event-time
    column.

    PERMISSIVE ``from_json`` maps corrupt records to an all-null
    struct (not a null struct), and ``inline`` turns a null struct
    into an all-null row, so the drop predicate requires every
    top-level field non-null — matching the reference's ``asOpt[T]``,
    which fails the decode if any case-class field is absent.
    """
    parsed = raw.select(F.inline(F.array(F.from_json(F.col("value"), schema))))
    valid = parsed.where(
        " AND ".join(f"{sql_ident(f.name)} IS NOT NULL" for f in schema.fields)
    )
    if "ts" in valid.columns:
        valid = valid.withColumn("event_time", F.timestamp_millis(F.col("ts")))
    return valid
