"""Streaming deduplication (SURVEY.md §2.12 dedup x §2.9 streaming).

Two bounded-state flavors over an event stream:

* ``dedup_exact_stream`` — drop exact repeats of a key within the
  watermark horizon via ``dropDuplicatesWithinWatermark``: state per
  key is evicted once the event-time watermark passes it, so state
  ~ rate x delay regardless of stream lifetime (the 100 TB-stream
  path).  Plain ``dropDuplicates`` on a stream would keep every key
  forever.
* ``dedup_content_stream`` — same, keyed on a content hash (md5 of a
  canonical concatenation), the streaming analog of the batch
  ``exact_dedup_groups`` (operators/dedup.py): records that re-arrive
  with identical payload within the horizon are suppressed even when
  their ids differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_exact_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    delay: str = "30 seconds",
) -> DataFrame:
    """First arrival per key wins; repeats within ``delay`` of the
    watermark are dropped, later ones are admitted again (the horizon
    IS the dedup contract — document it, don't pretend it's global)."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(key_cols)


def dedup_content_stream(
    stream: DataFrame,
    content_cols: list[str],
    ts_col: str = "ts",
    delay: str = "30 seconds",
    keep_hash: bool = False,
) -> DataFrame:
    """Suppress re-deliveries with identical content (id-independent):
    key = md5 over the canonical '\\x1f'-joined string forms.  With
    ``keep_hash`` the content hash survives as ``content_hash`` —
    the deterministic projection of the result (WHICH physical row
    represents a content group depends on arrival order; the hash set
    does not, so hash-level outputs are what oracles can check)."""
    hashed = stream.withColumn(
        "_content_hash",
        F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in content_cols])),
    )
    out = hashed.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        ["_content_hash"]
    )
    if keep_hash:
        return out.withColumnRenamed("_content_hash", "content_hash")
    return out.drop("_content_hash")


def simhash_bucket_claims_stream(
    stream: DataFrame,
    text_col: str,
    ts_col: str = "ts",
    delay: str = "30 seconds",
    k: int = 3,
) -> DataFrame:
    """Streaming NEAR-duplicate detection state: each arriving
    document computes its 60-bit SimHash (per-row Arrow UDF —
    identical integers to the batch ``simhash_signatures``) and
    claims its 4 fifteen-bit band buckets; first arrival per
    (band, byte) within the watermark horizon wins, later claims are
    suppressed.  A document none of whose claims survive arrived
    after near-duplicates already covered all its bands — the
    streaming analog of the batch band-candidate join, with state
    bounded by the horizon (~rate × delay buckets, each a 12-byte
    key), not stream lifetime.

    Emits the claimed (band, byte) rows.  As with content dedup,
    WHICH document claims a bucket depends on micro-batch arrival
    order; the claimed bucket SET does not — so bucket-level output
    is the oracle-checkable projection.
    """
    from ..operators.dedup import (
        SIMHASH_BAND_BITS,
        SIMHASH_BANDS,
        simhash_udf,
    )

    # docs with no k-shingle (< k words) have NULL signatures — they
    # claim nothing, matching the batch band projection which has no
    # row for them
    sig = stream.withColumn("_sh", simhash_udf(k)(F.col(text_col))).where(
        F.col("_sh").isNotNull()
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (
                    F.shiftright(F.col("_sh"), SIMHASH_BAND_BITS * b)
                    % (1 << SIMHASH_BAND_BITS)
                ).alias("byte"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    claims = sig.select(
        F.col(ts_col), F.explode(band_structs).alias("bb")
    ).select(ts_col, F.col("bb.band").alias("band"), F.col("bb.byte").alias("byte"))
    return (
        claims.withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["band", "byte"])
        .select("band", "byte")
    )


def minhash_bucket_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, bk) MinHash band-bucket memberships with the bucket key
    flattened to one string ``band|h1,h2`` — the store key of the
    incremental-dedup index.

    Built from the WIDE signature frame with the final key strings
    emitted directly in the band explode (4 plan ops instead of 8):
    this plan is constructed once per MICRO-BATCH on the streaming
    path, where build time — not the tiny batch's compute — was the
    measured cost (r13).  Byte-identical keys to
    ``minhash_band_buckets`` + concat."""
    from ..operators.dedup import minhash_signatures

    sig = minhash_signatures(df, id_col, text_col, k, wide=True)
    bk_arr = "array(" + ", ".join(
        f"concat('{b}|', "
        + ", ',', ".join(
            f"CAST(h{b * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)
        )
        + ")"
        for b in range(bands)
    ) + ")"
    return sig.selectExpr("id", f"explode({bk_arr}) AS bk")


def incremental_dedup_batch(
    batch: DataFrame,
    store,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    sink_dir: str | None = None,
) -> DataFrame:
    """One micro-batch of corpus-vs-batch incremental near-dup
    screening through a KeyedUpsertStore index of band buckets (the
    foreachBatch body of streaming_incremental_dedup; see
    tests/test_streaming.py::test_incremental_dedup_restart for the
    exactly-once chaos proof).

    The batch is treated atomically: is_dup = shares >= 1 MinHash
    band bucket with the STORE (everything accepted before this
    batch), never with a same-batch sibling — batch-mode ingestion
    semantics.  Accepted docs' buckets are appended FIRST-CLAIM:
    only keys absent from the snapshot are inserted (left_anti),
    stamped ver = batch_id + 1.  Because a bucket's ver never changes
    after its first claim, ``ver <= batch_id`` is exactly the store
    as it stood BEFORE this batch first ran — the dup join reads that
    slice, so a re-delivered batch (crash between sink write and
    offset commit) does NOT see its own first run's insertions,
    recomputes byte-identical flags, and its left_anti re-upsert is a
    value-level no-op.

    ``sink_dir`` (r13): when given, the flags are PINNED by writing
    them to ``sink_dir/_batch_id=<id>`` (the idempotent_parquet_sink
    layout) and re-read from those files — the parquet write replaces
    the eager localCheckpoint job the caller's separate sink write
    used to follow (one materialization per batch instead of two; the
    pin still lands BEFORE the store publishes its next version and
    removes the files the flags were read from, which is the ordering
    the exactly-once contract needs).  Without it, the flags come back
    localCheckpoint-pinned as before (callers sink them AND derive
    the accepted cut — one materialization).

    Returns the (id, is_dup) flags."""
    nbk = minhash_bucket_keys(
        batch, id_col, text_col, k, bands, rows_per_band
        # lazy: the flags checkpoint's dup-join action below
        # materializes it in-job; the upsert reads the cached blocks
    ).localCheckpoint(eager=False)
    # ONE store read per micro-batch: the snapshot feeds the dup join
    # here AND rides into the upsert as its ``cur`` side (r13: the
    # second listing+read of the same files was ~10% of the batch wall)
    snapshot = store.snapshot()
    # the pre-batch view: claims by the corpus seed (ver 0) and by
    # batches strictly before this one (ver j+1 <= batch_id)
    snap_prior = snapshot.where(F.col("ver") <= batch_id).select("bk")
    snap_all = snapshot.select("bk")
    dup_ids = (
        nbk.join(snap_prior, "bk", "left_semi")
        .select("id")
        .distinct()
        .withColumn("_d", F.lit(True))
    )
    flags = (
        batch.select(F.col(id_col).alias("id"))
        .join(dup_ids, "id", "left")
        .select("id", F.coalesce("_d", F.lit(False)).alias("is_dup"))
    )
    if sink_dir is not None:
        # The sink write IS the pin: values land on disk before the
        # upsert publishes the store's next version, and the
        # accepted cut below reads the stable written files.  A
        # re-delivered batch overwrites the same _batch_id directory
        # with byte-identical rows (idempotent_parquet_sink layout).
        import os as _os

        bdir = _os.path.join(sink_dir, f"_batch_id={int(batch_id)}")
        pinned_schema = flags.schema
        flags.write.mode("overwrite").parquet(bdir)
        flags = batch.sparkSession.read.schema(pinned_schema).parquet(bdir)
    else:
        # EAGER on purpose: flags read the store's current files, and
        # the sink consumes them AFTER upsert() has published the next
        # version and removed those files — the pin must land first
        flags = flags.localCheckpoint()
    accepted = (
        nbk.join(flags.where(~F.col("is_dup")), "id", "left_semi")
        .select("bk")
        .distinct()
    )
    fresh = accepted.join(snap_all, "bk", "left_anti").withColumn(
        "ver", F.lit(batch_id + 1)
    )
    store.upsert(fresh, cur=snapshot)
    return flags
