"""J1: latest-wins keyed store + enrichment join (SURVEY.md §2.4 J1,
§7 hard-part #1).

The reference synchronizes its two streams *through Cassandra*: every
attach event upserts ``attach_event`` keyed by bearer_id
(``TrafficStreamProcessor.scala:42``), and every celltower event
point-joins that table (``:52-56``) — so a celltower event matches
the latest attach seen *at any time in the past* (unbounded state),
and unmatched events drop (inner join).  A watermarked stream-stream
join cannot reproduce that; a keyed upsert store can.

``KeyedUpsertStore`` is a parquet-backed compacted table with one
writer: the pipeline's own query (``TrafficPipeline.run``) upserts
each micro-batch's attaches and only then joins that batch's
celltower events.  Its on-disk layout is

* ``v<N>/``, one complete parquet snapshot per version;
* ``_CURRENT``, a pointer file naming the published version (no
  pointer, no store).

An upsert writes ``latest_per_key(current ∪ batch)`` to ``v<N+1>``,
publishes it by writing ``_CURRENT.tmp`` and ``os.replace``-ing it
onto ``_CURRENT``, then removes every other version directory.  The
replace is the only step that changes what readers see, so a crash
of the process at any point leaves either the old or the new
snapshot complete and readable; a half-written ``v<N+1>`` is never
named by the pointer, and the next upsert overwrites it.

There are no hash buckets.  A hash-bucketed store rewrites only the
buckets a batch touches, but with 4 buckets a batch of n distinct
keys misses a given bucket with probability (3/4)^n, so above about
20 keys every bucket is rewritten.  On perfbench's ``attach_churn``
(10k attaches per batch) every traced batch rewrote 4 of 4 buckets,
105,079 rows: the buckets bought nothing but a per-bucket directory
swap and a layout file.  Every upsert rewrites the whole store.

At cluster scale this store is Delta ``MERGE`` (same latest-wins
semantics, transactional, file-level skip); the versioned parquet
snapshot keeps the package free of that dependency.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CURRENT = "_CURRENT"
_VERSION = re.compile(r"v\d+")


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """One row per key: the row with the max (order_cols...) tuple.

    Implemented with ``max_by`` over a struct so ties break
    deterministically on the later order columns.
    """
    ordk = F.struct(*[F.col(c) for c in order_cols])
    payload = F.struct(*[F.col(c) for c in df.columns])
    latest = df.groupBy(*key_cols).agg(F.max_by(payload, ordk).alias("_r"))
    return latest.select("_r.*")


class KeyedUpsertStore:
    """Latest-wins upsert store: one parquet snapshot per version,
    published by an atomic pointer swap (Delta-MERGE semantics)."""

    def __init__(
        self, spark: SparkSession, path: str, key_col: str, order_col: str
    ):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.order_col = order_col
        self._schema = None  # pinned by the first read

    def _pointer(self) -> str:
        return os.path.join(self.path, _CURRENT)

    def _version(self) -> str | None:
        """The published version's directory name, or None."""
        try:
            with open(self._pointer()) as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def snapshot(self) -> DataFrame | None:
        version = self._version()
        if version is None:
            return None
        reader = self.spark.read
        if self._schema is not None:
            # schema pinned from the previous read of THIS store
            # object: skips the per-read parquet footer-inference job
            # (one driver sub-job per snapshot otherwise — measured on
            # the foreachBatch hot path)
            reader = reader.schema(self._schema)
        snap = reader.parquet(os.path.join(self.path, version))
        self._schema = snap.schema
        return snap

    def upsert(self, batch: DataFrame, cur: DataFrame | None = None) -> None:
        """Merge a batch: latest row per key wins across (old, new),
        written as the next version and published atomically.  A batch
        with no rows costs one job and changes nothing.

        ``cur``: the store's current ``snapshot()`` when the caller
        already read it this micro-batch (the dup-join / stats-join
        pattern) — passing it avoids a second listing + read plan of
        the same files.  MUST be the unmodified snapshot of THIS store
        taken after the last mutation; when in doubt leave it None.
        Plans built on it read files the publish removes, so the
        caller materializes whatever it derives from them first."""
        # No row means nothing to merge, and a store that does not
        # exist yet must not be published empty.
        if batch.isEmpty():
            return
        if cur is None:
            cur = self.snapshot()
        if cur is not None:
            batch = cur.unionByName(batch, allowMissingColumns=True)
        merged = latest_per_key(batch, [self.key_col], [self.order_col])
        version = self._version()
        nxt = f"v{int(version[1:]) + 1 if version else 0}"
        # overwrite: a directory left by a crash before the publish
        merged.write.mode("overwrite").parquet(os.path.join(self.path, nxt))
        tmp = self._pointer() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(nxt)
        os.replace(tmp, self._pointer())
        for d in os.listdir(self.path):
            if d != nxt and _VERSION.fullmatch(d):
                shutil.rmtree(os.path.join(self.path, d))

    def join(self, facts: DataFrame, fact_key: str) -> DataFrame:
        """Enrich facts against the current snapshot with an inner join,
        the reference's drop-unmatched semantics: with no store yet,
        every fact drops.  Dim columns that collide with fact
        columns (topic/ts/...) are dropped from the dim side — the
        fact stream's values win, matching the reference's projection
        right after the join (TrafficStreamProcessor.scala:54-56).

        No hint picks the join strategy: the planner hashes the smaller
        side by its size estimate.  With ``decode_json_stream`` parsing
        each line once, a micro-batch (1k-5k events, about 1.2 MB) is
        the smaller side against a 50k-100k-row store, so the batch is
        hashed and broadcast (``BuildLeft``) and the store's partitions
        stream through it; a large backlog batch lets the planner pick
        the store instead."""
        dim = self.snapshot()
        if dim is None:
            return facts.limit(0)
        overlap = (set(facts.columns) & set(dim.columns)) - {self.key_col}
        dim = dim.drop(*overlap)
        joined = facts.join(dim, facts[fact_key] == dim[self.key_col])
        return joined.drop(dim[self.key_col]) if fact_key == self.key_col else joined
