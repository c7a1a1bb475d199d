"""J1: latest-wins keyed store + enrichment join (SURVEY.md §2.4 J1,
§7 hard-part #1).

The reference synchronizes its two streams *through Cassandra*: every
attach event upserts ``attach_event`` keyed by bearer_id
(``TrafficStreamProcessor.scala:42``), and every celltower event
point-joins that table (``:52-56``) — so a celltower event matches
the latest attach seen *at any time in the past* (unbounded state),
and unmatched events drop (inner join).  A watermarked stream-stream
join cannot reproduce that; a keyed upsert store can.

``KeyedUpsertStore`` is a parquet-backed compacted table, hash-
bucketed by key.  It has one writer: the pipeline's own query
(``TrafficPipeline.run``) upserts each micro-batch's attaches and only
then joins that batch's celltower events, so no reader lists bucket
files while a rewrite swaps them.  It has one on-disk layout:

* ``_bucket=<hash(key) % B>/`` partition directories holding the rows;
* ``_meta.json`` recording B, written with the first upsert and
  authoritative whenever the store is reopened;
* ``_SUCCESS``, the commit marker (no marker, no store).

Each micro-batch merge touches ONLY the buckets its keys fall in — the
current snapshot of those buckets is read (partition-pruned), unioned
with the batch, compacted latest-wins, and the rewritten bucket
directories are swapped in; every other bucket's files are left
byte-for-byte untouched.  Per-batch cost is therefore
O(batch + store/B · touched_buckets), not O(store): with B sized so a
bucket fits an executor (e.g. B = store_bytes / 256 MB, passed as
``n_buckets`` when the store is created), a batch touching k distinct
key-buckets rewrites only those k · 256 MB.  On a real cluster this
is Delta ``MERGE`` (same semantics, transactional, file-level skip);
parquet-dir-swap keeps the container dependency-free while preserving
the incremental shape.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.enrich import latest_per_key

_BUCKET = "_bucket"

# Bucket count for NEW stores.  A bucket is a rewrite unit (one parquet
# directory).  The default is small because at testdata scale every
# bucket holds a few KB and the dominant upsert cost is the
# per-directory commit of the bucket write (16 -> 4 buckets cut the
# per-batch store rewrite ~30% with byte-identical snapshots).  Larger
# stores pass ``n_buckets`` when they are created.
_DEFAULT_N_BUCKETS = 4


class KeyedUpsertStore:
    """Latest-wins upsert store over hash-bucketed parquet
    (Delta-MERGE semantics, touched-buckets-only rewrite)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        order_col: str,
        n_buckets: int | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.order_col = order_col
        self._schema = None  # pinned by the first read
        # A store that already exists on disk keeps the bucketing it
        # was written with — the hash-to-directory mapping is part of
        # the on-disk layout, not a session preference.  A different
        # modulus would put an upserted key's new row in a new bucket
        # while its old row stays in the old one.
        meta = self._meta_path()
        if os.path.exists(meta):
            try:
                with open(meta) as fh:
                    written = int(json.load(fh)["n_buckets"])
            except (OSError, ValueError, KeyError, TypeError) as e:
                raise ValueError(f"unreadable store meta {meta}: {e!r}") from e
            if n_buckets is not None and n_buckets != written:
                raise ValueError(
                    f"store {path} was written with {written} buckets, "
                    f"not {n_buckets}"
                )
            n_buckets = written
        self.n_buckets = n_buckets or _DEFAULT_N_BUCKETS

    def _meta_path(self) -> str:
        return os.path.join(self.path, "_meta.json")

    def _bucket_expr(self):
        # xxhash64 is deterministic across sessions/executors (fixed
        # seed 42), so a key's bucket never moves between batches.
        # Null keys (xxhash64 -> null) pin to bucket 0 so they never
        # create a hive default-partition directory.
        return F.coalesce(
            F.pmod(F.xxhash64(F.col(self.key_col)), F.lit(self.n_buckets)),
            F.lit(0),
        )

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_SUCCESS"))

    def _raw(self) -> DataFrame | None:
        """Snapshot including the _bucket partition column."""
        if not self.exists():
            return None
        reader = self.spark.read.option("basePath", self.path)
        if self._schema is not None:
            # schema pinned from the previous read of THIS store
            # object: skips the per-read parquet footer-inference job
            # (one driver sub-job per snapshot otherwise — measured on
            # the foreachBatch hot path)
            reader = reader.schema(self._schema)
        raw = reader.parquet(self.path)
        self._schema = raw.schema
        return raw

    def snapshot(self) -> DataFrame | None:
        raw = self._raw()
        return raw.drop(_BUCKET) if raw is not None else None

    def raw_snapshot(self) -> DataFrame | None:
        """Public accessor of the bucket-annotated snapshot, for
        callers that read the store AND upsert it in one micro-batch
        (pass the result back as ``upsert(..., cur=...)``)."""
        return self._raw()

    def upsert(self, batch: DataFrame, cur: DataFrame | None = None) -> None:
        """Merge a batch: latest row per key wins across (old, new).

        Only bucket directories containing a batch key are rewritten;
        all other buckets are untouched on disk.  A batch with no rows
        costs one job and changes nothing.

        ``cur``: the store's current RAW frame (``_raw()``) when the
        caller already read it this micro-batch (the dup-join /
        stats-join pattern) — passing it avoids a second listing +
        read plan of the same files.  MUST be the unmodified _raw()
        of THIS store taken after the last mutation; when in doubt
        leave it None.
        """
        newb = batch.withColumn(_BUCKET, self._bucket_expr())
        # Tiny driver-side list (<= n_buckets ints) — this is what
        # bounds the rewrite to touched buckets.  No bucket touched
        # means no row: nothing to merge, and a store that does not
        # exist yet must not be committed without a bucket.
        touched = [r[0] for r in newb.select(_BUCKET).distinct().collect()]
        if not touched:
            return
        if cur is None:
            cur = self._raw()
        if cur is not None:
            cur = cur.where(F.col(_BUCKET).isin(touched))  # pruned
            newb = cur.unionByName(newb, allowMissingColumns=True)
        merged = latest_per_key(newb, [self.key_col], [self.order_col])
        # Stage the rewritten buckets, then swap each directory in —
        # never read-and-overwrite the same files in one job.
        tmp = self.path + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        merged.write.partitionBy(_BUCKET).mode("overwrite").parquet(tmp)
        os.makedirs(self.path, exist_ok=True)
        for b in touched:
            src = os.path.join(tmp, f"{_BUCKET}={b}")
            dst = os.path.join(self.path, f"{_BUCKET}={b}")
            if os.path.exists(dst):
                shutil.rmtree(dst)
            if os.path.exists(src):
                os.rename(src, dst)
        shutil.rmtree(tmp)
        # Layout metadata: the bucket count the store was written
        # with (reopeners adopt it — see __init__).
        if not os.path.exists(self._meta_path()):
            with open(self._meta_path(), "w") as fh:
                json.dump({"n_buckets": self.n_buckets}, fh)
        # Commit marker (idempotent).
        with open(os.path.join(self.path, "_SUCCESS"), "w"):
            pass

    def join(self, facts: DataFrame, fact_key: str, how: str = "inner") -> DataFrame:
        """Enrich facts against the current snapshot (inner = reference
        drop-unmatched semantics).  Dim columns that collide with fact
        columns (topic/ts/...) are dropped from the dim side — the
        fact stream's values win, matching the reference's projection
        right after the join (TrafficStreamProcessor.scala:54-56)."""
        dim = self.snapshot()
        if dim is None:
            return facts.limit(0) if how == "inner" else facts
        overlap = (set(facts.columns) & set(dim.columns)) - {self.key_col}
        dim = dim.drop(*overlap)
        joined = facts.join(dim, facts[fact_key] == dim[self.key_col], how)
        return joined.drop(dim[self.key_col]) if fact_key == self.key_col else joined

