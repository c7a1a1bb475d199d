"""Batch K-Means of the query registry (SURVEY.md §2.9, §2.12).

``lloyd_kmeans`` (batch Lloyd), ``minibatch_kmeans`` (the
deterministic twin of the streaming update rule), ``label_centroids``
(per-label mean centroids) and ``assign_frame`` (nearest-centroid
assignment against a centroid DataFrame).  They build on the
streaming product's K-Means in ``operators/kmeans.py``:
``StreamingKMeans``, its data-spread seeding and the literal-centroid
``assign``.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import euclidean, euclidean_unrolled
from .kmeans import _UNROLL_MAX_DIM, StreamingKMeans, _spread_seeds, assign


@contextlib.contextmanager
def _model_sized_shuffles(spark):
    """Pin shuffle width to 1 and switch AQE off for a block whose
    only shuffles are MODEL-sized (bounded at k or k x dim grouped
    rows — set by the model, not the data; guide §2.2).  One reduce
    partition is scale-correct at any input size because map-side
    partial aggregation bounds what reaches it at (#map tasks) x k
    (x dim) partial rows, and AQE cannot improve a plan that is
    already one 1-partition shuffle — its per-stage re-optimization
    was pure driver overhead here (measured ~1 s/round on the Lloyd
    loop).  Same set/restore pattern as
    registry/runner.py::replay_partitions.

    The two confs are SESSION-WIDE: the block assumes no other query
    runs on the session while it is open (a concurrent query would
    plan with one shuffle partition and AQE off too), and EVERY
    exchange planned inside it is affected, including data-sized
    shuffles in the lineage of the caller's input frame (an upstream
    join or aggregate is forced to one partition).  Callers should
    pass a frame whose lineage has no data-sized shuffle.  Its one
    caller is the batch ``lloyd_kmeans`` loop; the streaming update
    (``StreamingKMeans.update``) needs no keyed exchange and so no
    conf change."""
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        if int(prev_parts) > 1:
            spark.conf.set("spark.sql.shuffle.partitions", "1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def assign_frame(
    points: DataFrame,
    centroids: DataFrame,
    vec_col: str = "point",
    centroid_vec_col: str = "centroid",
    centroid_id_col: str = "prediction",
    dim: int | None = None,
) -> DataFrame:
    """``operators/kmeans.py::assign`` against a centroid DataFrame of
    (``centroid_id_col``, ``centroid_vec_col``) rows: adds prediction,
    centroid, distance columns, with the same values and the same
    lowest-id argmin tiebreak.

    Physical shape: the k centroids collapse into ONE array row
    (collect_list) broadcast onto every point; the argmin is a
    scan-side fold over that array — no shuffle, no per-row synthetic
    id, no join-back.  The aggregate subtree and its broadcast build
    cost a sub-job per call; centroids already on the driver go to
    ``assign`` as (id, vector) pairs instead.  ``dim``: as in
    ``assign``, a small static width unrolls the distance
    (``functions/vector.py::euclidean_unrolled``, bit-identical to the
    fold)."""
    unroll = dim is not None and dim <= _UNROLL_MAX_DIM
    dist = (
        (lambda p, c: euclidean_unrolled(p, c, dim))
        if unroll
        else euclidean
    )
    cents = centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(centroid_id_col).alias("id"),
                    F.col(centroid_vec_col).alias("vec"),
                )
            )
        ).alias("_cents")
    )
    base = points.crossJoin(F.broadcast(cents))
    cents_col = F.col("_cents")
    with_d = base.select(
        *points.columns,
        cents_col.alias("_cents"),
        F.transform(
            cents_col, lambda c: dist(F.col(vec_col), c["vec"])
        ).alias("_d"),
    )
    pos = F.array_position(F.col("_d"), F.array_min(F.col("_d"))).cast("int")
    with_best = with_d.select(
        *points.columns,
        F.element_at("_cents", pos).alias("_b"),
        F.array_min(F.col("_d")).alias("distance"),
    )
    return with_best.select(
        *points.columns,
        F.col("_b")["id"].alias("prediction"),
        F.col("_b")["vec"].alias("centroid"),
        "distance",
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int | None = None,
) -> DataFrame:
    """Per-label dimension-wise mean vectors -> (prediction, centroid).

    The deterministic centroid source for oracle-checked assignment
    (posexplode + avg + re-assemble; one shuffle on (label, dim)).
    ``round_digits`` pins the means so downstream distance math is
    bit-reproducible across engines despite AVG's order-dependence.
    """
    exploded = df.select(
        F.col(label_col).alias("prediction"),
        F.posexplode(F.col(vec_col)).alias("d", "x"),
    )
    m = F.avg(F.col("x").cast("double"))
    if round_digits is not None:
        m = F.round(m, round_digits)
    means = exploded.groupBy("prediction", "d").agg(m.alias("m"))
    return (
        means.groupBy("prediction")
        .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("_dm"))
        .select(
            "prediction",
            F.transform(F.col("_dm"), lambda s: s["m"]).alias("centroid"),
        )
    )


def minibatch_kmeans(
    df: DataFrame,
    id_col: str,
    order_cols: list[str],
    vec_col: str = "point",
    k: int = 3,
    dim: int = 2,
    n_batches: int = 5,
    decay: float = 1.0,
    round_state: int | None = 9,
) -> DataFrame:
    """Deterministic mini-batch K-Means twin of the streaming model
    (reference W6, ClusterAnalyser.scala:15-43): slice the input into
    ``n_batches`` sequential mini-batches by ntile over a TOTAL order
    (``order_cols`` must be a unique key), then replay the exact
    StreamingKMeans train-then-predict loop batch by batch.

    Purpose: a hash-checkable oracle for the streaming update rule.
    The production path (streaming_kmeans_outliers) consumes real
    micro-batches whose composition the driver picks at runtime; this
    twin pins batch composition with SQL-expressible arithmetic
    (ntile) so a DuckDB oracle can unroll the n_batches update rounds
    as a CTE chain — the lloyd_kmeans oracle pattern applied to the
    streaming rule (seed from batch 1, per-batch weighted centroid
    update with decay, predict each batch with the just-updated
    model).

    Scale note: the global ntile is ONE total-order sort — this is a
    VERIFICATION twin, not the production path (real batching comes
    from the stream source; no global sort exists there).  The sliced
    frame is localCheckpoint-ed once so the ``2 * n_batches`` passes
    (update + predict per batch) read materialized blocks, not
    n_batches re-sorts.

    Returns (id_col, batch int, prediction int, distance double
    rounded 6).
    """
    from pyspark.sql import Window

    sliced = df.select(
        F.col(id_col),
        F.col(vec_col).alias("point"),
        F.ntile(n_batches)
        .over(Window.orderBy(*order_cols))
        .alias("b"),
        # lazy: batch 1's update action materializes the slices; the
        # remaining 2*n_batches-1 passes read the cached blocks
    ).localCheckpoint(eager=False)

    model = StreamingKMeans(
        k=k, dim=dim, decay=decay, round_state=round_state
    )
    outs: list[DataFrame] = []
    for t in range(1, n_batches + 1):
        batch = sliced.where(F.col("b") == t)
        scored = model.update_and_assign(batch, vec_col="point")
        outs.append(
            scored.select(
                F.col(id_col),
                F.lit(t).alias("batch"),
                "prediction",
                (F.round("distance", 6) + F.lit(0.0)).alias("distance"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


def lloyd_kmeans(
    df: DataFrame,
    vec_col: str,
    k: int,
    iterations: int = 5,
    round_digits: int = 9,
    dim: int | None = None,
    as_pairs: bool = False,
) -> DataFrame | list:
    """Batch Lloyd's K-Means: deterministic data-spread seeding, then
    ``iterations`` rounds of (distributed assign -> dimension-wise
    mean recompute).  Returns the final (prediction, centroid) table.

    Scale shape: per iteration one broadcast argmin (shuffle-free,
    see ``assign``) + one (prediction, dim) aggregation shuffle of
    posexploded points; ONLY the k x dim centroid table ever reaches
    the driver.  Centroid means are rounded each round so results are
    reproducible regardless of partitioning (AVG order-dependence).

    Determinism: seeding takes k evenly-spaced rows of the distinct
    lexicographically-sorted vectors (same spread trick as
    StreamingKMeans seeding); everything downstream is a pure
    function of those seeds.

    ``dim``: pass the static vector width to run each round's argmin
    through assign()'s literal-centroid + unrolled-distance fast path
    (bit-identical; see assign) — the centroids are driver-held lists
    between rounds anyway.

    ``as_pairs``: return the final centroids as the driver-side
    ``[(id, vector), ...]`` list instead of a DataFrame.  The loop
    holds them driver-side anyway; handing them straight to
    ``assign()``'s literal fast path deletes the final assignment's
    collect_list aggregate + broadcast-exchange build sub-job
    (measured 3x on the sf0.1 embeddings assignment) with identical
    doubles.
    """
    spark = df.sparkSession
    pts = df.select(F.col(vec_col).alias("point"))
    seeds = _spread_seeds(pts.distinct(), "point", k)
    if not seeds:
        if as_pairs:
            return []
        return spark.createDataFrame([], "prediction int, centroid array<double>")
    cents = seeds

    # Model-sized shuffles (r14, guide §2.2): every per-round reduce
    # below is bounded at k x dim grouped rows — a width set by the
    # MODEL, not the data (measured: the 32-task means reduce of 512
    # rows cost 0.6-0.9 s/round on 2 000 input rows, and AQE's
    # per-stage re-planning another ~1 s/round).  Probe medians on
    # the same host: 6.8 s -> 3.0 s.  StreamingKMeans.update's
    # conditional-sum aggregate does not carry over: it has k x (dim
    # + 1) terms, 9 at the streaming callers' k=3, dim=2, but a
    # conditional-sum Lloyd at dim 32 took 6.3-6.5 s against 2.2-2.4 s
    # with this block, and dropping the block alone cost 20-37% on a
    # 32-partition session (local[3] probe, one 4-vCPU host).
    with _model_sized_shuffles(spark):
        for _ in range(iterations):
            assigned = assign(
                pts, list(enumerate(cents)), vec_col="point", dim=dim
            )
            # collect the k x dim (prediction, d, m) grid FLAT and
            # assemble arrays driver-side (round-9: drops the second
            # groupBy stage per round; the grid is bounded at k*dim
            # rows)
            means = (
                assigned.select(
                    "prediction", F.posexplode("point").alias("d", "x")
                )
                .groupBy("prediction", "d")
                .agg(
                    F.round(
                        F.avg(F.col("x").cast("double")), round_digits
                    ).alias("m")
                )
            ).collect()  # k * dim rows
            by_pred: dict[int, dict[int, float]] = {}
            for r in means:
                by_pred.setdefault(r["prediction"], {})[r["d"]] = r["m"]
            new = {
                p: [dm[d] for d in sorted(dm)] for p, dm in by_pred.items()
            }
            cents = [new.get(i, cents[i]) for i in range(len(cents))]

    if as_pairs:
        return [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "prediction int, centroid array<double>",
    )
