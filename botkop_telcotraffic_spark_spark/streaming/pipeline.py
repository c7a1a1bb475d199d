"""The reference's full streaming DAG on Structured Streaming
(SURVEY.md §3.2): attach upsert (K1) + enrichment join (J1) fanned
out to windowed stats (A1/A2), geofencing (J3/S5), and streaming
K-Means anomaly detection (W6/A4/A5/J2).

Wiring follows the reference's single-read fan-out (`cache` + three
pipelines, ``TrafficStreamProcessor.scala:52-64``): one foreachBatch
persists the enriched micro-batch and feeds all three analyses,
instead of three queries re-reading the source.

Every per-batch analysis is a plain batch DataFrame transformation
from operators/ — the same code the batch surface uses.  Outputs go
to pluggable sinks (callables; Kafka writers in production, lists in
tests)."""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.geofence import polygon_geofence_join
from ..operators.kmeans import StreamingKMeans

Sink = Callable[[DataFrame, int], None]


def parquet_append_sink(path: str) -> Sink:
    """Production sink: append each micro-batch result to a parquet
    directory (Kafka/Delta writers swap in behind the same callable
    shape).  foreachBatch + append is at-least-once under retry —
    downstream readers dedup on (_batch_id, key) for effectively-once,
    the same contract the reference's Kafka publisher exposes
    (KafkaStreamPublisher.scala:9-25).  No driver-side collect
    anywhere: the batch result flows executor->parquet."""

    def sink(df: DataFrame, batch_id: int) -> None:
        df.withColumn("_batch_id", F.lit(batch_id)).write.mode("append").parquet(path)

    return sink


def idempotent_parquet_sink(path: str) -> Sink:
    """EXACTLY-ONCE-effective foreachBatch parquet sink: each batch
    overwrites its own ``_batch_id=<id>`` partition directory, so the
    batch foreachBatch re-delivers after a crash (sink write done,
    offset commit lost) simply rewrites the same files instead of
    appending duplicates — the standard idempotent-by-batch-id
    pattern the Structured Streaming guide prescribes for foreachBatch
    (parquet_append_sink documents the at-least-once alternative +
    reader-side dedup).  Read the result with
    ``spark.read.parquet(path)``: partition discovery restores
    ``_batch_id`` as a column.

    Scale shape: executor-side write, no driver collect; one
    directory per micro-batch (compact with the layout tools if the
    batch count grows unbounded)."""

    def sink(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(path, f"_batch_id={int(batch_id)}")
        )

    return sink


def read_geofences(spark, path: str) -> DataFrame:
    """S5/W9: (re-)read the geofence side input.  Called per batch —
    the well-defined version of the reference's 5s hot reload
    (Geofencer.scala:16-23); driver-side read, broadcast to the join.
    File shape: JSON array of {name, path, polygon: [{lat, lng}]}."""
    from ..schemas import GEOFENCE

    with open(path) as fh:
        fences = json.load(fh)
    rows = [
        (g["name"], g.get("path", ""), [(p["lat"], p["lng"]) for p in g["polygon"]])
        for g in fences
    ]
    return spark.createDataFrame(rows, GEOFENCE)


class TrafficPipeline:
    """The three analytics pipelines over an enriched celltower
    stream, driven per micro-batch."""

    def __init__(
        self,
        metric_names: list[str],
        kmeans_dims: list[str],
        geofence_path: str | None = None,
        k: int = 3,
        decay: float = 1.0,
        window: str = "30 seconds",
        slide: str = "2 seconds",
        stats_sink: Sink | None = None,
        geofence_sink: Sink | None = None,
        outlier_sink: Sink | None = None,
        subscriber_stats_sink: Sink | None = None,
        publish_all_points: bool = False,
        round_state: int | None = None,
    ):
        self.metric_names = metric_names
        # P2 dimension-order pin (SURVEY.md §2.3 †): explicit config
        # order, not map iteration order.
        self.kmeans_dims = kmeans_dims
        self.geofence_path = geofence_path
        self.window, self.slide = window, slide
        # round_state: pin the O(k·dim) model state to a decimal grid
        # after each batch (StreamingKMeans docstring) — makes a
        # pinned replay of the WHOLE pipeline hash-reproducible
        # across engines; None (production default) keeps raw floats
        self.model = StreamingKMeans(
            k=k, dim=len(kmeans_dims), decay=decay, round_state=round_state
        )
        self.stats_sink = stats_sink
        self.geofence_sink = geofence_sink
        self.outlier_sink = outlier_sink
        # 4th reference topic (MetricStatsProducer.scala:17-36): the
        # same windowed stats keyed by subscriber instead of celltower
        self.subscriber_stats_sink = subscriber_stats_sink
        # reference parity: publish every windowed point with its
        # outlier flag (ClusterAnalyser.scala:55-65) instead of only
        # the flagged rows
        self.publish_all_points = publish_all_points

    # --- per-batch analyses (plain batch DataFrame ops) ---------------

    def metric_stats_fused(
        self, enriched: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Both stats topics (cell + subscriber,
        MetricStatsProducer.scala:17-36) from ONE aggregation job:
        grouping sets [(window, celltower, metric), (window,
        subscriber, metric)] aggregate the exploded metrics in a
        single pass, replacing two full explode+aggregate scans of
        the cached batch per micro-batch (round-10 fan-out harvest).
        Identical values per topic: a grouping-sets expansion feeds
        each input row to both sets, so each set's partial aggregates
        see exactly the rows the standalone aggregation would.
        Returns (shared, cell_stats, subscriber_stats): the two
        topic frames are SLICES of ``shared`` — the caller persists
        ``shared`` (process_batch) so the second slice's plan
        cache-substitutes the tiny grouped result instead of
        re-aggregating the raw batch."""
        win = (
            F.window(F.col("event_time"), self.window, self.slide)
            if self.slide
            else F.window(F.col("event_time"), self.window)
        )
        # the window is projected BEFORE the grouping sets: an aliased
        # expression in the grouping-column list does not match the
        # raw expression inside a set, which would silently demote the
        # window to an always-NULL grouping column
        exploded = enriched.select(
            "celltower", "subscriber", win.alias("w"),
            F.explode("metrics").alias("metric", "value"),
        )
        from ..operators.window_stats import stat_aggs

        both = (
            exploded.groupingSets(
                [
                    [F.col("w"), F.col("celltower"), F.col("metric")],
                    [F.col("w"), F.col("subscriber"), F.col("metric")],
                ],
                F.col("w"),
                F.col("celltower"),
                F.col("subscriber"),
                F.col("metric"),
            )
            .agg(
                F.grouping("subscriber").alias("_is_cell"),
                *stat_aggs("value"),
            )
        )
        def slice_for(key: str, flag: int) -> DataFrame:
            return both.where(F.col("_is_cell") == flag).select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                key,
                "metric",
                "n", "mean", "stdev", "vmax", "vmin",
            )
        # grouping(subscriber) = 1 in the set that aggregated OVER
        # subscriber (i.e. the celltower set), 0 in the subscriber set
        return both, slice_for("celltower", 1), slice_for("subscriber", 0)

    def geofence_matches(self, enriched: DataFrame) -> DataFrame:
        """J3: celltower location containment against the (re-read)
        geofence side input.  The JSON is already driver-local, so the
        fence list goes straight into polygon_geofence_join: no Spark
        job and no DataFrame round-trip for the side input."""
        with open(self.geofence_path) as fh:
            fences = [
                (g["name"], [(p["lat"], p["lng"]) for p in g["polygon"]])
                for g in json.load(fh)
            ]
        pts = enriched.select(
            "subscriber", "celltower",
            F.col("celltower.location.lat").alias("lat"),
            F.col("celltower.location.lng").alias("lng"),
        )
        out = polygon_geofence_join(pts, fences)
        return out.select("subscriber", "celltower", F.col("name").alias("geofence"))

    def anomalies(
        self, enriched: DataFrame, keep_all: bool = False
    ) -> DataFrame:
        """W6 + A4/A5/J2: vectorize configured dims, train-then-predict
        with the streaming model, IQR-flag by cluster distance.

        ``keep_all=True`` returns EVERY scored point with its fences
        attached (the reference publishes all windowed points with an
        ``outlier`` flag, ``ClusterAnalyser.scala:55-65``); the
        default keeps only the rows outside the fences — the
        alert-stream variant.

        Fence formulation: the exact per-cluster IQR order statistics
        are SCALAR window expressions over prediction (identical
        values to operators/iqr.py exact mode: q1 = sorted[n DIV 4],
        q3 = sorted[3n DIV 4] 0-based, 1.5·IQR, ±DBL_MAX at n <= 4)
        instead of an aggregate + broadcast join-back — the
        streaming_kmeans_outliers round-7 shave applied to the
        production pipeline: predict + fence + filter is ONE job per
        micro-batch on one k-key shuffle, dropping the per-batch
        broadcast-build sub-job (round-10 fan-out harvest).  The
        rank-based pick uses row_number == idx, never indexing a
        collect_list window column (an array-valued window value is
        copied into every row's buffer — O(rows × group) bytes)."""
        from pyspark.sql import Window

        from ..operators.iqr import DOUBLE_MAX, DOUBLE_MIN

        pts = enriched.select(
            "subscriber",
            "celltower",
            F.array(
                *[F.col("metrics").getItem(d) for d in self.kmeans_dims]
            ).alias("point"),
        ).where(~F.exists("point", lambda x: x.isNull()))
        scored = self.model.update_and_assign(pts, vec_col="point")
        w_ord = Window.partitionBy("prediction").orderBy("distance")
        w_all = Window.partitionBy("prediction")
        ranked = scored.select(
            "subscriber", "celltower", "point", "prediction", "centroid",
            "distance",
            F.row_number().over(w_ord).alias("_rn"),
            F.count(F.lit(1)).over(w_all).alias("_n"),
        )
        q1i = (F.floor(F.col("_n") / 4) + 1).cast("int")
        q3i = (F.floor(F.col("_n") * 3 / 4) + 1).cast("int")
        q1 = F.max(F.when(F.col("_rn") == q1i, F.col("distance"))).over(w_all)
        q3 = F.max(F.when(F.col("_rn") == q3i, F.col("distance"))).over(w_all)
        iqr_w = q3 - q1
        degen = F.col("_n") <= 4
        flagged = ranked.select(
            "subscriber", "celltower", "point", "prediction", "centroid",
            "distance",
            F.when(degen, F.lit(DOUBLE_MIN)).otherwise(q1 - 1.5 * iqr_w).alias("lo"),
            F.when(degen, F.lit(DOUBLE_MAX)).otherwise(q3 + 1.5 * iqr_w).alias("hi"),
        )
        if not keep_all:
            flagged = flagged.where(
                (F.col("distance") < F.col("lo"))
                | (F.col("distance") > F.col("hi"))
            )
        return flagged

    # --- wiring --------------------------------------------------------

    def process_batch(self, enriched: DataFrame, batch_id: int) -> None:
        """W5 single-read fan-out: persist once, run all analyses.
        The stats topics come from ONE aggregation (metric_stats_fused)
        whose grouped result is persisted, so each wired stats sink
        (cell first, then subscriber) scans the tiny grouped rows
        instead of re-aggregating the batch."""
        enriched.persist()
        fused = None
        try:
            if self.stats_sink is not None or self.subscriber_stats_sink is not None:
                fused, by_cell, by_sub = self.metric_stats_fused(enriched)
                fused.persist()
                if self.stats_sink is not None:
                    self.stats_sink(by_cell, batch_id)
                if self.subscriber_stats_sink is not None:
                    self.subscriber_stats_sink(by_sub, batch_id)
            if self.geofence_sink is not None and self.geofence_path:
                self.geofence_sink(self.geofence_matches(enriched), batch_id)
            if self.outlier_sink is not None:
                self.outlier_sink(
                    self.anomalies(
                        enriched, keep_all=self.publish_all_points
                    ),
                    batch_id,
                )
        finally:
            if fused is not None:
                fused.unpersist()
            enriched.unpersist()

    def run(
        self,
        celltower_stream: DataFrame,
        attach_store,
        checkpoint: str,
        available_now: bool = True,
    ):
        """Drive the enrichment join (J1) + fan-out per micro-batch."""

        def sink(batch: DataFrame, batch_id: int) -> None:
            enriched = attach_store.join(batch, fact_key="bearerId").select(
                "subscriber", "celltower", "metrics", "event_time"
            )
            self.process_batch(enriched, batch_id)

        writer = (
            celltower_stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
            return q
        return writer.start()
