"""Internal cluster-quality metrics: simplified silhouette and
Davies-Bouldin — the evaluation step after any clustering
(``operators/kmeans.py``) or labeled-corpus sanity check.

Both metrics are centroid-based, so they are O(n·k) scan-side math,
never O(n²) pairwise:

* simplified silhouette (Hruschka et al. 2004, the standard
  large-data variant of Rousseeuw's silhouette): per point,
  a = d(x, own centroid), b = min over OTHER centroids d(x, c_j),
  s = (b - a) / max(a, b); reported as the per-cluster mean.
* Davies-Bouldin (Davies & Bouldin 1979): per cluster,
  S_i = mean d(x, c_i); R_i = max_{j != i} (S_i + S_j) / d(c_i, c_j);
  the index is mean(R_i) — lower is better.  Reported per cluster so
  the worst offender (most-overlapping pair) is visible, not averaged
  away.

Scale shape: centroids are MODEL-sized (k × dim) and broadcast; the
point pass is one cross join against k rows with a scan-side fold
distance (functions/vector.py — codegen, fold-deterministic) plus one
keyed aggregate on the cluster id.  The k×k centroid-pair table and
the R_i max are driver-trivial sizes but stay in DataFrames (no
collect).  At 100 TB: one shuffle on the cluster id, everything else
narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .kmeans import euclidean_sql


def _point_centroid_dists(
    points: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    centroid_id_col: str,
    centroid_vec_col: str,
) -> DataFrame:
    """(point rows × k) with dist; callers rank/aggregate it."""
    return points.crossJoin(
        F.broadcast(
            centroids.select(
                F.col(centroid_id_col).alias("_cid"),
                F.col(centroid_vec_col).alias("_cvec"),
            )
        )
    ).withColumn("_dist", F.expr(euclidean_sql(f"`{vec_col}`", "_cvec")))


def simplified_silhouette(
    points: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "prediction",
    centroid_vec_col: str = "centroid",
    round_to: int = 6,
) -> DataFrame:
    """Per-cluster mean simplified silhouette.

    Returns (cluster, n, silhouette): cluster = nearest-centroid
    assignment (lowest id on exact ties, matching kmeans.assign), n =
    cluster size, silhouette = round(avg((b-a)/max(a,b)), round_to).
    A single-centroid model yields silhouette 0.0 by convention
    (b is undefined; max(a,b)=a gives (a-a)/a).
    """
    d = _point_centroid_dists(
        points.select(id_col, vec_col),
        centroids, vec_col, centroid_id_col, centroid_vec_col,
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_dist"), F.col("_cid"))
    ranked = d.withColumn("_rk", F.row_number().over(w)).where(
        F.col("_rk") <= 2
    )
    per_point = ranked.groupBy(id_col).agg(
        F.min(F.when(F.col("_rk") == 1, F.col("_cid"))).alias("cluster"),
        F.min(F.when(F.col("_rk") == 1, F.col("_dist"))).alias("_a"),
        F.min(F.when(F.col("_rk") == 2, F.col("_dist"))).alias("_b"),
    )
    s = F.when(
        F.greatest(F.col("_a"), F.col("_b")) > 0,
        (F.col("_b") - F.col("_a"))
        / F.greatest(F.col("_a"), F.col("_b")),
    ).otherwise(F.lit(0.0))
    return (
        per_point.withColumn("_s", F.coalesce(s, F.lit(0.0)))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("_s"), round_to).alias("silhouette"),
        )
    )


def davies_bouldin(
    points: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "prediction",
    centroid_vec_col: str = "centroid",
    round_to: int = 6,
) -> DataFrame:
    """Per-cluster Davies-Bouldin terms.

    Returns (cluster, n, s_scatter, r_max): s_scatter = mean distance
    to the cluster's own centroid (assignment = nearest centroid,
    lowest id on ties), r_max = max over other clusters of
    (S_i + S_j) / M_ij.  mean(r_max) over clusters is the DB index;
    the per-cluster rows keep the worst-overlap pair visible.
    Centroids that win no points are OMITTED (no scatter to report
    and no standard DB contribution) — callers averaging r_max get
    the index over the populated clusters.
    """
    d = _point_centroid_dists(
        points.select(id_col, vec_col),
        centroids, vec_col, centroid_id_col, centroid_vec_col,
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_dist"), F.col("_cid"))
    assigned = (
        d.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(F.col("_cid").alias("cluster"), F.col("_dist").alias("_a"))
    )
    scat = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"), F.avg("_a").alias("_s")
    )
    cents = centroids.select(
        F.col(centroid_id_col).alias("_cid"),
        F.col(centroid_vec_col).alias("_cvec"),
    )
    pairs = (
        cents.alias("i")
        .crossJoin(F.broadcast(cents.alias("j")))
        .where(F.col("i._cid") != F.col("j._cid"))
        .select(
            F.col("i._cid").alias("ci"),
            F.col("j._cid").alias("cj"),
            F.expr(euclidean_sql("i._cvec", "j._cvec")).alias("_m"),
        )
    )
    si = scat.select(F.col("cluster").alias("ci"), F.col("_s").alias("_si"))
    sj = scat.select(F.col("cluster").alias("cj"), F.col("_s").alias("_sj"))
    r = (
        pairs.join(F.broadcast(si), "ci")
        .join(F.broadcast(sj), "cj")
        .groupBy(F.col("ci").alias("cluster"))
        .agg(F.max((F.col("_si") + F.col("_sj")) / F.col("_m")).alias("_r"))
    )
    return (
        scat.join(r, "cluster", "left")
        .select(
            "cluster",
            "n",
            F.round("_s", round_to).alias("s_scatter"),
            F.round(F.coalesce(F.col("_r"), F.lit(0.0)), round_to).alias(
                "r_max"
            ),
        )
    )
