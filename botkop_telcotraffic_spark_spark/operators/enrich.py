"""Latest-wins keyed enrichment join (operator J1 in SURVEY.md §2.4).

The reference maintains a Cassandra table keyed on ``bearer_id`` where
the latest attach upsert wins, then point-joins each celltower event
against it (``TrafficStreamProcessor.scala:42,52-56``).  The batch
re-expression: reduce the dimension stream to its latest row per key
(argmax on event time with a deterministic tiebreak), then inner
equi-join the fact stream — unmatched facts are dropped exactly like
the reference's inner ``joinWithCassandraTable``.

Scale notes: the latest-per-key reduction is ``max_by`` (one partial
+ final agg, no sort, no window-function shuffle-sort); the join is a
plain equi-join Catalyst can broadcast (dim small) or sort-merge with
AQE skew handling (dim large).  The streaming product keeps the dim
as a compacted keyed store updated in foreachBatch, and
``latest_per_key`` is that store's merge rule — see
streaming/upsert_join.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..streaming.upsert_join import latest_per_key


def enrich_latest(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    dim_order: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """J1: join each fact to the latest dim row for its key."""
    d = latest_per_key(dim, [dim_key], dim_order)
    return facts.join(d, facts[fact_key] == d[dim_key], how)
