"""Streaming IVF index maintenance (SURVEY.md §2.12 similarity ×
§2.9 streaming; r11 verdict #6).

The batch ANN family (operators/similarity.py: LSH / IVF / PQ /
Hamming + rerank) builds its inverted-file index once; production
embedding stores GROW — new vectors must enter the coarse-quantizer
cells without rescanning the corpus, and the index must tell its
operators when the trained quantizer has drifted far enough from the
incoming distribution to warrant a re-train.

``ivf_assign_batch`` is the foreachBatch body: one micro-batch of new
embeddings is argmin-assigned to the FIXED centroids (broadcast
nested-loop over k centroids — scan-side, no shuffle, the exact
assignment kernel of operators/similarity.py::ivf_topk), upserted
into a persistent KeyedUpsertStore keyed by vector id, and the
batch's per-cell index stats are computed from the store snapshot —
NOT from batch-local math — so a driver hash over the stats checks
the store's replay discipline, not just the assignment arithmetic.

Replay safety (the streaming_incremental_dedup discipline, commit
31f69fd): rows are stamped ``ver = batch_id + 1`` and the stats read
the ``ver <= batch_id + 1`` store slice.  A vector's (cell, ver)
never changes after first assignment (slices are disjoint; a
RE-DELIVERED batch rewrites identical values, a latest-wins no-op),
so the slice is exactly the index as of this batch even when later
batches already ran before the crash replay — re-delivery recomputes
byte-identical stats (tests/test_streaming.py::
test_streaming_ivf_restart_exactly_once).

100 TB shape: each increment touches ONLY the new batch (k distance
evaluations per vector, zero shuffle) plus one latest-wins store
rewrite; the corpus is never rescanned.  Per-cell stats
aggregate fixed-width (cell, ver) keys — #cells rows per batch.  The
drift monitor downstream (per-cell index share vs the seed share the
quantizer was trained on) is the re-train trigger: k-row frames,
driver-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.kmeans import assign
from ..operators.kmeans_batch import assign_frame


def ivf_assignments(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) nearest-centroid assignment — the IVF list
    membership of each vector (broadcast argmin, ties to the lowest
    centroid id; identical integers to ivf_topk's list build).
    ``centroids``: a (prediction, centroid) DataFrame, or the same
    centroids as driver-side (id, vector) pairs, which inline as
    literals and skip the per-batch broadcast build."""
    pts = df.select(id_col, vec_col)
    if isinstance(centroids, DataFrame):
        assigned = assign_frame(pts, centroids, vec_col=vec_col)
    else:
        assigned = assign(pts, centroids, vec_col=vec_col)
    return assigned.select(id_col, F.col("prediction").alias("cell"))


def ivf_assign_batch(
    batch: DataFrame,
    store,
    centroids: DataFrame,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sink=None,
) -> DataFrame | None:
    """One micro-batch of incremental IVF maintenance: assign the new
    vectors, upsert them into the index store (ver = batch_id + 1),
    and emit per-cell stats — (cell, n_batch, n_index) — from the
    store slice ``ver <= batch_id + 1`` so a crash re-delivery is
    byte-identical (see module docstring).

    ``sink``: callable invoked with the stats frame BEFORE the store
    rewrite.  With it the whole micro-batch costs ONE store read: the
    snapshot feeds the upsert as its ``cur`` side, and the stats
    come from the latest-wins merge of (that same read, this batch's
    assignments) — definitionally identical to re-reading the store
    after the upsert, because the upsert writes exactly that merge
    (r13 measurement: the post-upsert listing+scan was a full extra
    job per batch).  The sink MUST materialize its input (a write or
    other action): after ``upsert`` publishes the next version it
    removes the old one, so plans built on the pre-upsert snapshot
    hold stale file references.  Returns None in sink mode for
    exactly that reason.  Without ``sink`` the original read-back
    ordering is kept and the (still valid) stats frame is returned."""
    from ..streaming.upsert_join import latest_per_key

    assigned = (
        ivf_assignments(batch, centroids, id_col, vec_col)
        .withColumn("ver", F.lit(batch_id + 1))
        # lazy: the batch's first action (sink-mode stats write, or
        # the upsert) materializes it in-job; later consumers read
        # the cached blocks
        .localCheckpoint(eager=False)
    )

    def _stats(snap: DataFrame) -> DataFrame:
        n_batch = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_batch")
        )
        return (
            snap.where(F.col("ver") <= batch_id + 1)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_index"))
            .join(n_batch, "cell", "left")
            .select(
                "cell",
                F.coalesce(
                    F.col("n_batch"), F.lit(0).cast("long")
                ).alias("n_batch"),
                "n_index",
            )
        )

    if sink is None:
        store.upsert(assigned)
        return _stats(store.snapshot())
    cur = store.snapshot()
    post = (
        assigned
        if cur is None
        else latest_per_key(cur.unionByName(assigned), [id_col], ["ver"])
    )
    sink(_stats(post))
    store.upsert(assigned, cur=cur)
    return None


# Per-batch re-train trigger: fire when any cell's share of the INDEX
# has moved more than this from its share of the SEED the quantizer
# was trained on.  The constant is shared with the oracle SQL;
# calibrated so the testdata replay FLIPS mid-stream (early batches
# below, late batches above — drift accumulates as the unseeded
# portion of the corpus grows), so the flag is a live signal, not a
# constant column.
DRIFT_RETRAIN_THRESHOLD = 0.03


def index_drift_report(
    stats: DataFrame,
    seed_cells: DataFrame,
    threshold: float = DRIFT_RETRAIN_THRESHOLD,
) -> DataFrame:
    """Decorate per-batch per-cell index stats (b, cell, n_batch,
    n_index) with the drift monitor: share_index (cell's share of the
    index as of batch b), drift = |share_index - share_seed|, and the
    per-batch ``retrain`` flag (max rounded drift over cells >
    threshold).  ``seed_cells``: (cell, n_seed) training-set counts.
    Shares are exact integer ratios, so both sides of the oracle
    produce identical IEEE doubles; comparisons use the 6-decimal
    rounded drift on BOTH sides.  All frames are #cells-sized."""
    from pyspark.sql import Window

    total_seed = seed_cells.agg(
        F.sum("n_seed").cast("double").alias("_ts")
    )
    seed_share = seed_cells.crossJoin(F.broadcast(total_seed)).select(
        "cell", (F.col("n_seed") / F.col("_ts")).alias("_ss")
    )
    wb = Window.partitionBy("b")
    return (
        stats.join(F.broadcast(seed_share), "cell", "left")
        .withColumn(
            "share_index", F.col("n_index") / F.sum("n_index").over(wb)
        )
        .withColumn(
            "drift",
            F.round(
                F.abs(
                    F.col("share_index")
                    - F.coalesce(F.col("_ss"), F.lit(0.0))
                ),
                6,
            ),
        )
        .select(
            "b",
            "cell",
            "n_batch",
            "n_index",
            (F.round("share_index", 6) + F.lit(0.0)).alias("share_index"),
            (F.col("drift") + F.lit(0.0)).alias("drift"),
            (F.max("drift").over(wb) > F.lit(threshold)).alias("retrain"),
        )
    )
