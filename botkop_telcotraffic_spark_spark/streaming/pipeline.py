"""The reference's full streaming DAG on Structured Streaming
(SURVEY.md §3.2): attach upsert (K1) + enrichment join (J1) fanned
out to windowed stats (A1/A2), geofencing (J3/S5), and streaming
K-Means anomaly detection (W6/A4/A5/J2).

One query over both topics' JSON lines (TrafficPipeline.run) runs,
per micro-batch, the reference's serial output-op order: the K1
upsert, then the J1 join, then the fan-out.  The fan-out follows the
reference's single read (`cache` + three pipelines,
``TrafficStreamProcessor.scala:52-64``): process_batch persists the
enriched micro-batch and feeds all three analyses.  Upsert, join and
the fan-out's frame building stay serial; the four topic writes then
run concurrently, one thread each, so their driver-side planning and
one-task stages overlap.  This is the Structured Streaming analogue of
DStreams' ``spark.streaming.concurrentJobs``, scoped to one batch: the
next batch starts only after every write of this one has finished.

Every per-batch analysis is a plain batch DataFrame transformation.
Outputs go to pluggable sinks: ``(df, batch_id)`` callables over a
payloads.py frame, such as one that overwrites the batch's own
``_batch_id=<id>`` directory, so a replayed batch rewrites its
output instead of appending a duplicate."""

from __future__ import annotations

import json
import math
import os
from collections.abc import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqlfn import sql_ident, sql_str
from ..operators.geofence import polygon_geofence_join
from ..operators.kmeans import StreamingKMeans
from ..schemas import ATTACH_EVENT, CELLTOWER_EVENT
from .json_stream import decode_json_stream

Sink = Callable[[DataFrame, int], None]


def read_geofences(spark, path: str) -> list[tuple[str, str, list[tuple[float, float]]]]:
    """S5/W9: (re-)read the geofence side input as the driver-local
    list ``[(name, path, [(lat, lng), ...])]``.  Called per batch —
    the well-defined version of the reference's 5s hot reload
    (Geofencer.scala:16-23).  ``spark`` is unused: no Spark job reads
    the file.  File shape: JSON array of {name, path, polygon:
    [{lat, lng}]}; coordinates become floats, so ``52`` renders as
    ``52.0`` in the payload like the reference's Double.

    Raises ValueError on a duplicate fence name (the payload looks
    fences up by name) and on a NaN or infinite coordinate (the
    containment test is SQL text, and those have no SQL literal)."""
    with open(path) as fh:
        fences = [
            (g["name"], g.get("path", ""),
             [(float(p["lat"]), float(p["lng"])) for p in g["polygon"]])
            for g in json.load(fh)
        ]
    seen = set()
    for name, _, poly in fences:
        if name in seen:
            raise ValueError(f"duplicate geofence name {name!r} in {path}")
        seen.add(name)
        if not all(math.isfinite(c) for vertex in poly for c in vertex):
            raise ValueError(f"geofence {name!r} in {path} has a non-finite coordinate")
    return fences


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
        publish_all_points: bool = True,
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
        # metric_names is the stats' config: with none, every group
        # would publish an empty stats map
        stats_wired = stats_sink is not None or subscriber_stats_sink is not None
        if stats_wired and not metric_names:
            raise ValueError("a stats sink is set but metric_names is empty")
        self.stats_sink = stats_sink
        # a path with no sink is valid: geofence_matches is called directly
        if geofence_sink is not None and not geofence_path:
            raise ValueError("geofence_sink is set but geofence_path is not")
        self.geofence_sink = geofence_sink
        # with no dimension the distance SQL has no term, and with no
        # cluster there is nothing to score against
        if outlier_sink is not None and (not kmeans_dims or k < 1):
            raise ValueError("outlier_sink is set but kmeans_dims is empty or k < 1")
        self.outlier_sink = outlier_sink
        # 4th reference topic (MetricStatsProducer.scala:17-36): the
        # same windowed stats keyed by subscriber instead of celltower
        self.subscriber_stats_sink = subscriber_stats_sink
        # the outlier sink gets every scored point, and the points
        # message flags the outliers among them, as the reference
        # publishes them (ClusterAnalyser.scala:55-65); True is the
        # only mode
        if not publish_all_points:
            raise ValueError(
                "publish_all_points must be True: the outlier sink gets every point"
            )

    # --- per-batch analyses (plain batch DataFrame ops) ---------------

    def metric_stats_fused(
        self, enriched: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """Both stats topics (cell + subscriber,
        MetricStatsProducer.scala:17-58) as ``(by_cell, by_sub)``.
        Each is ONE groupBy(window, entity) over the batch — one
        partial + one final HashAggregate — whose single aggregate
        column ``stats`` carries one StatCounter per configured metric
        (MetricStats.scala:5-24): an array of struct(metric, n, mean,
        stdev, vmax, vmin) in sorted metric-name order.  The window and
        the stats are SQL text (metric names and durations quoted by
        ``sql_str``), parsed JVM-side in one call each.

        Two deliberate differences from the reference:
        - the stats cover the configured ``metric_names``, not every
          key of the metrics map (the reference iterates each event's
          keys, and its merge throws when two events' key sets
          differ);
        - a metric whose value is null in every row of a (window,
          entity) group is omitted from that group's ``stats`` (the
          reference never publishes it either: play-json rejects a
          null map value and drops the event).

        Known gap, not a choice (ROADMAP item 3 closes it): the
        windows cover only the current micro-batch.  The reference's
        ``reduceByKeyAndWindow(30 s, 2 s)`` (SURVEY.md A1,
        ``MetricStatsProducer.scala:16-36``) emits, once per slide, one
        window over every event of the last 30 s across batches; here
        each batch emits its own partial windows, each built from that
        batch's events only.

        Float sums depend on the order rows reach the aggregate, as
        the reference's do on its partition order: a change in how
        the enriched batch is partitioned (e.g. the join side the
        planner hashes) can move a ``mean`` that sits on a rounding
        tie of the payload's ``%f`` by one unit in the 6th decimal.
        Counts, max and min never move."""
        durations = [self.window] + ([self.slide] if self.slide else [])
        win = F.expr(
            f"window(event_time, {', '.join(sql_str(d) for d in durations)})"
        ).alias("w")
        structs = []
        for m in sorted(set(self.metric_names)):
            v = f"metrics[{sql_str(m)}]"
            structs.append(
                f"named_struct('metric', {sql_str(m)}, 'n', count({v}),"
                f" 'mean', avg({v}), 'stdev', stddev_pop({v}),"
                f" 'vmax', max({v}), 'vmin', min({v}))"
            )
        stats = F.expr(f"filter(array({', '.join(structs)}), s -> s.n > 0)")

        def by(entity: str) -> DataFrame:
            return enriched.groupBy(win, entity).agg(stats.alias("stats")).selectExpr(
                "w.start AS window_start",
                "w.end AS window_end",
                sql_ident(entity),
                "stats",
            )

        return by("celltower"), by("subscriber")

    def geofence_matches(self, enriched: DataFrame) -> DataFrame:
        """J3: celltower location containment against the (re-read)
        geofence side input.  read_geofences keeps the fence list
        driver-local, so it goes straight into polygon_geofence_join:
        no Spark job and no DataFrame round-trip for the side input."""
        fences = [
            (name, poly) for name, _, poly in read_geofences(None, self.geofence_path)
        ]
        pts = enriched.selectExpr(
            "subscriber", "celltower",
            "celltower.location.lat AS lat", "celltower.location.lng AS lng",
        )
        out = polygon_geofence_join(pts, fences)
        return out.selectExpr("subscriber", "celltower", "name AS geofence")

    def anomalies(self, enriched: DataFrame) -> DataFrame:
        """W6: vectorize the configured dims, then train-then-predict
        with the streaming model.  Returns every scored point
        (subscriber, celltower, point, prediction, centroid,
        distance); ``payloads.cluster_points_payload`` fences them per
        cluster (A4/A5) and flags the outliers in the message it
        builds, as the reference publishes every point with an
        ``outlier`` flag (``ClusterAnalyser.scala:55-65``).

        Known gap, not a choice (ROADMAP item 4 closes it): the points
        and their fences cover only the current micro-batch.  The
        reference windows the points 30 s / 2 s before it predicts
        (SURVEY.md W3/A4/A5, ``ClusterAnalyser.scala:39,47-53``), so
        each slide scores, fences and publishes every point of the
        last 30 s across batches.  The model is trained per batch in
        both."""
        dims = ", ".join(f"metrics[{sql_str(d)}]" for d in self.kmeans_dims)
        pts = enriched.selectExpr(
            "subscriber", "celltower", f"array({dims}) AS point"
        ).where("NOT exists(point, x -> x IS NULL)")
        return self.model.update_and_assign(pts, vec_col="point")

    # --- wiring --------------------------------------------------------

    def process_batch(self, enriched: DataFrame, batch_id: int) -> None:
        """W5 single-read fan-out: persist the enriched batch once, build
        every wired branch's frame on this thread, then write the wired
        topics concurrently, one thread per sink.

        Building runs ``anomalies()``, so the K-Means update (and the
        first batch's seeding) finishes before any write starts.  The
        update changes no session conf; it runs first because its job
        fills the persisted cache once, and the writes then read it.
        The outlier sink gets every scored point, with no fences:
        ``payloads.cluster_points_payload`` fences and flags them.

        Each write runs on a ``pyspark.InheritableThread``, so its jobs
        carry this thread's local properties, among them the streaming
        query's job group that ``StreamingQuery.stop()`` cancels.  A
        failing write does not stop the others: every write runs to
        completion, then ``enriched`` is unpersisted and the first
        failure (in wiring order) is re-raised."""
        enriched.persist()
        try:
            writes = []
            if self.stats_sink is not None or self.subscriber_stats_sink is not None:
                by_cell, by_sub = self.metric_stats_fused(enriched)
                if self.stats_sink is not None:
                    writes.append((self.stats_sink, by_cell))
                if self.subscriber_stats_sink is not None:
                    writes.append((self.subscriber_stats_sink, by_sub))
            if self.geofence_sink is not None:
                writes.append((self.geofence_sink, self.geofence_matches(enriched)))
            if self.outlier_sink is not None:
                writes.append((self.outlier_sink, self.anomalies(enriched)))
            errors: list[BaseException | None] = [None] * len(writes)

            def write(i: int) -> None:
                sink, frame = writes[i]
                try:
                    sink(frame, batch_id)
                except BaseException as e:  # re-raised below, on this thread
                    errors[i] = e

            threads = [InheritableThread(write, args=(i,)) for i in range(len(writes))]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        finally:
            enriched.unpersist()
        for e in errors:
            if e is not None:
                raise e

    def run(
        self,
        lines: DataFrame,
        attach_store,
        checkpoint: str,
        available_now: bool = True,
    ):
        """The product as ONE query.  ``lines``: the JSON lines of both
        topics in a ``value`` column (a text file stream or a Kafka
        source).  On Kafka that is one source subscribed to both input
        topics (``subscribe`` = "<attach>,<celltower>") with ``value``
        cast to string.  Per micro-batch, in the reference's serial
        output-op order: upsert the batch's attaches (K1), enrich its
        celltower events against the store (J1), fan out
        (process_batch, whose four topic writes overlap; the batch
        ends when all of them have finished).

        Replay-safe: the K-Means model keeps its state under
        ``<checkpoint>/kmeans/`` as one ``b<batch_id>.json`` per batch
        (the last two kept).  Each batch first rolls the model to the
        state after the previous batch (``StreamingKMeans.align``) and
        saves its own state after the fan-out, so a batch replayed
        after a crash, or by a new pipeline on the same checkpoint,
        trains the model once.  With idempotent per-batch sinks the
        topics then match a run with no crash byte for byte.

        Each batch is planned anew; its generated classes stay compiled
        only if the session's codegen cache holds them, as it does on a
        ``session.get_spark`` session.  The cache size is a static conf
        that ``tune()`` cannot set, so on a session the host builds it
        keeps Spark's 100 entries and every batch recompiles classes."""
        state = os.path.join(checkpoint, "kmeans")

        def sink(batch: DataFrame, batch_id: int) -> None:
            self.model.align(state, batch_id)
            attaches = decode_json_stream(batch, ATTACH_EVENT)
            attach_store.upsert(attaches)
            cells = decode_json_stream(batch, CELLTOWER_EVENT)
            if attach_store.snapshot() is None:
                # no attach seen yet, so no store: every event drops,
                # joined to this batch's own attaches (there are none),
                # which carry the store's columns
                joined = cells.join(attaches.select("bearerId", "subscriber"), "bearerId")
            else:
                joined = attach_store.join(cells, fact_key="bearerId")
            enriched = joined.select("subscriber", "celltower", "metrics", "event_time")
            self.process_batch(enriched, batch_id)
            self.model.snapshot(state, batch_id)

        writer = (
            lines.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
            return q
        return writer.start()
