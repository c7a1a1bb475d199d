"""End-to-end Structured Streaming tests: the reference's full DAG
replayed deterministically (availableNow) over JSONL fixtures, plus
streaming/batch unification of the windowed stats operator."""

from __future__ import annotations

import datetime
import json
import os
import shutil
import threading
import time

import pytest

from botkop_telcotraffic_spark_spark.operators.window_stats import windowed_stats
from botkop_telcotraffic_spark_spark.schemas import ATTACH_EVENT, CELLTOWER_EVENT
from botkop_telcotraffic_spark_spark.streaming.json_stream import decode_json_stream
from botkop_telcotraffic_spark_spark.streaming.payloads import geofence_payload
from botkop_telcotraffic_spark_spark.streaming.pipeline import (
    TrafficPipeline,
    read_geofences,
)
from botkop_telcotraffic_spark_spark.registry.runner import (
    run_to_memory,
    stream_parquet_table,
)
from botkop_telcotraffic_spark_spark.streaming.upsert_join import KeyedUpsertStore
from tests.conftest import REPO, SF_DIR_001
from tests.telco_fixtures import (
    GEOFENCES,
    fixture_lines,
    latest_attach_by_bearer,
    point_in_polygon_py,
    write_fixtures,
)

TMP = os.path.join(REPO, ".tmp", "streaming")


@pytest.fixture(scope="module")
def fixtures():
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP, exist_ok=True)
    return write_fixtures(os.path.join(TMP, "fixtures"))


def test_attach_upsert_store_latest_wins(spark, fixtures):
    """S3 decode-and-drop + K1 upsert: malformed lines dropped, latest
    attach per bearer wins (reference Cassandra-upsert semantics)."""
    store = KeyedUpsertStore(
        spark, os.path.join(TMP, "attach_store"), key_col="bearerId", order_col="ts"
    )
    # the product's one query over both topics, with no sink wired:
    # only the upsert leaves a trace
    TrafficPipeline(metric_names=["rtt"], kmeans_dims=["rtt"]).run(
        fixture_lines(spark, fixtures), store, checkpoint=os.path.join(TMP, "ckpt_attach")
    )

    snap = {r["bearerId"]: r for r in store.snapshot().collect()}
    expected = latest_attach_by_bearer(fixtures["attaches"])
    assert set(snap) == set(expected)
    for bearer, ev in expected.items():
        assert snap[bearer]["ts"] == ev["ts"]
        assert snap[bearer]["subscriber"]["id"] == ev["subscriber"]["id"]


def test_full_pipeline_fanout(spark, fixtures):
    """K1 upsert + J1 + W5 fan-out + A1/J3/W6 pipelines: one query
    over the lines of both topics."""
    store = KeyedUpsertStore(
        spark, os.path.join(TMP, "attach_store2"), key_col="bearerId", order_col="ts"
    )
    from botkop_telcotraffic_spark_spark.registry.runner import idempotent_parquet_sink

    outlier_dir = os.path.join(TMP, "outlier_sink")
    outputs = {"stats": [], "geo": []}
    pipe = TrafficPipeline(
        metric_names=["rtt", "byteLoss", "jitter"],
        kmeans_dims=["rtt", "byteLoss"],
        geofence_path=fixtures["geo_path"],
        stats_sink=lambda df, bid: outputs["stats"].extend(df.collect()),
        geofence_sink=lambda df, bid: outputs["geo"].extend(df.collect()),
        # kmeans branch runs end-to-end through the PRODUCTION sink:
        # executor-side per-batch parquet write, no driver collect
        outlier_sink=idempotent_parquet_sink(outlier_dir),
    )
    pipe.run(fixture_lines(spark, fixtures), store, checkpoint=os.path.join(TMP, "ckpt_full"))
    outputs["outliers"] = (
        spark.read.parquet(outlier_dir).collect()
        if os.path.exists(outlier_dir)
        else []
    )

    # enrichment: unknown bearers dropped (inner join)
    known = {c["bearerId"] for c in fixtures["cells"]} & set(
        latest_attach_by_bearer(fixtures["attaches"])
    )
    n_known_events = sum(1 for c in fixtures["cells"] if c["bearerId"] in known)

    # stats: one row per (celltower, window) with a per-metric stats
    # array; every metric name present
    assert outputs["stats"], "stats pipeline produced nothing"
    entries = [s for r in outputs["stats"] for s in r["stats"]]
    metrics_seen = {s["metric"] for s in entries}
    assert metrics_seen == {"rtt", "byteLoss", "jitter"}
    # sliding 30s/2s => each event lands in 15 windows; total count mass
    # across windows per metric = 15 * enriched events
    total_n = sum(s["n"] for s in entries if s["metric"] == "rtt")
    assert total_n == 15 * n_known_events

    # geofence matches agree with an independent python ray-caster
    latest = latest_attach_by_bearer(fixtures["attaches"])
    expected_matches = 0
    from tests.telco_fixtures import GEOFENCES

    for c in fixtures["cells"]:
        if c["bearerId"] not in latest:
            continue
        loc = c["celltower"]["location"]
        for g in GEOFENCES:
            if point_in_polygon_py(loc["lng"], loc["lat"], g["polygon"]):
                expected_matches += 1
    assert len(outputs["geo"]) == expected_matches

    # anomaly pipeline ran: model trained (weights sum = events seen),
    # and the outlier sink got every scored point, one per enriched
    # event, with no fences (the points message flags the outliers)
    assert sum(pipe.model.weights) == pytest.approx(n_known_events)
    assert len(outputs["outliers"]) == n_known_events
    assert not {"lo", "hi"} & set(spark.read.parquet(outlier_dir).columns)


def test_run_before_any_attach_drops_events_then_enriches(spark, fixtures, tmp_path):
    """Celltower events that arrive before any attach has been seen
    find no store: the batch finishes, every event drops (the
    reference's inner join against an empty table) and no stats
    message is written.  A later batch that carries attaches creates
    the store and enriches its own events as usual."""
    src = tmp_path / "lines"
    src.mkdir()
    cell_file = os.path.join(fixtures["cell_path"], "celltower.jsonl")
    with open(cell_file) as fh:
        first_event = fh.readline()
    (src / "b0.jsonl").write_text(first_event)
    stats = {}
    pipe = TrafficPipeline(
        metric_names=["rtt"],
        kmeans_dims=["rtt"],
        stats_sink=lambda df, bid: stats.setdefault(bid, []).extend(df.collect()),
    )
    store = KeyedUpsertStore(
        spark, str(tmp_path / "store"), key_col="bearerId", order_col="ts"
    )

    def run_once():
        lines = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(str(src))
        pipe.run(lines, store, checkpoint=str(tmp_path / "ckpt"))

    run_once()
    assert store.snapshot() is None
    assert stats == {0: []}

    # the second batch: every fixture attach, then every celltower event
    with open(os.path.join(fixtures["attach_path"], "attach.jsonl")) as fh:
        attaches = fh.read()
    with open(cell_file) as fh:
        events = fh.read()
    (src / "b1.jsonl").write_text(attaches + events)
    run_once()
    known = set(latest_attach_by_bearer(fixtures["attaches"]))
    n_known = sum(1 for c in fixtures["cells"] if c["bearerId"] in known)
    # sliding 30 s / 2 s: each enriched event lands in 15 windows
    assert sum(s["n"] for r in stats[1] for s in r["stats"]) == 15 * n_known


def test_subscriber_stats_only_gets_fused_slice(spark):
    """With only the subscriber stats sink wired, process_batch hands
    it exactly the rows of metric_stats_fused's subscriber frame for
    the same batch (the one stats path serves every sink wiring)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (
            100 + i % 3,
            (f"c{i % 2}", (10.0 + i % 2, 20.0)),
            {"rtt": float(i), "byteLoss": float(i % 4)},
            t0 + dt.timedelta(seconds=i),
        )
        for i in range(12)
    ]
    enriched = spark.createDataFrame(
        rows,
        "subscriber bigint, "
        "celltower struct<id:string,location:struct<lat:double,lng:double>>, "
        "metrics map<string,double>, event_time timestamp",
    )
    got = []
    pipe = TrafficPipeline(
        metric_names=["rtt", "byteLoss"],
        kmeans_dims=["rtt", "byteLoss"],
        subscriber_stats_sink=lambda df, bid: got.extend(df.collect()),
    )
    pipe.process_batch(enriched, 0)
    _, by_sub = pipe.metric_stats_fused(enriched)
    want = by_sub.collect()
    assert want and "subscriber" in by_sub.columns
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_stats_cover_configured_metrics_only(spark):
    """The stats messages carry exactly the configured metrics that
    have a value in the (window, entity) group: (a) a map key outside
    ``metric_names`` is ignored, (b) a configured metric that is null
    in every row of a group is omitted from that group's message, and
    (c) a metric missing from some rows counts only the rows that
    carry it."""
    import datetime as dt

    from botkop_telcotraffic_spark_spark.streaming.payloads import (
        metric_stats_payload,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(5):
        # c0: jitter always null, byteLoss in 3 of 5 rows
        m0 = {"rtt": float(i), "jitter": None, "extra": 1.0}
        if i < 3:
            m0["byteLoss"] = float(i)
        rows.append((1, ("c0", (1.0, 2.0)), m0, t0 + dt.timedelta(seconds=i)))
        # c1: every configured metric present
        m1 = {"rtt": float(i), "jitter": 0.5, "byteLoss": 2.0}
        rows.append((2, ("c1", (3.0, 4.0)), m1, t0 + dt.timedelta(seconds=i)))
    enriched = spark.createDataFrame(
        rows,
        "subscriber bigint, "
        "celltower struct<id:string,location:struct<lat:double,lng:double>>, "
        "metrics map<string,double>, event_time timestamp",
    )
    msgs = {}

    def sink(df, bid):
        for r in metric_stats_payload(df, "celltower").collect():
            cell = "c0" if '"id":"c0"' in r["value"] else "c1"
            msgs[cell] = r["value"]

    TrafficPipeline(
        metric_names=["rtt", "jitter", "byteLoss"],
        kmeans_dims=["rtt"],
        slide=None,
        stats_sink=sink,
    ).process_batch(enriched, 0)

    assert set(msgs) == {"c0", "c1"}
    # (a) the unconfigured map key appears in no message
    assert all('"extra"' not in m for m in msgs.values())
    # (b) all-null jitter is omitted for c0, present for c1
    assert '"jitter"' not in msgs["c0"]
    assert '"jitter": { "count":5,' in msgs["c1"]
    # (c) byteLoss counts only the rows that carry it
    assert '"byteLoss": { "count":3,' in msgs["c0"]
    assert '"rtt": { "count":5,' in msgs["c0"]


def test_stats_sink_requires_metric_names():
    """A wired stats sink with no configured metrics is refused: every
    group would otherwise publish an empty stats map."""
    for sink_kw in ("stats_sink", "subscriber_stats_sink"):
        with pytest.raises(ValueError, match="metric_names"):
            TrafficPipeline(
                metric_names=[], kmeans_dims=["rtt"],
                **{sink_kw: lambda df, bid: None},
            )


FOUR_SINKS = ("stats_sink", "subscriber_stats_sink", "geofence_sink", "outlier_sink")


def _fixture_batch(spark, fixtures, store_path):
    """The lines of both fixture topics as ONE micro-batch, enriched as
    ``run`` does it: attaches upserted, celltower events joined to the
    store."""
    lines = spark.read.text([fixtures["attach_path"], fixtures["cell_path"]])
    store = KeyedUpsertStore(spark, store_path, key_col="bearerId", order_col="ts")
    store.upsert(decode_json_stream(lines, ATTACH_EVENT))
    cells = decode_json_stream(lines, CELLTOWER_EVENT)
    return store.join(cells, fact_key="bearerId").select(
        "subscriber", "celltower", "metrics", "event_time"
    )


def _pipeline_with(fixtures, sinks):
    """A pipeline over the fixture fences with the given sinks wired."""
    return TrafficPipeline(
        metric_names=["rtt", "byteLoss", "jitter"],
        kmeans_dims=["rtt", "byteLoss"],
        geofence_path=fixtures["geo_path"],
        **sinks,
    )


def test_fanout_writes_overlap(spark, fixtures, tmp_path):
    """process_batch writes the four topics concurrently: every sink
    waits on one four-party barrier, which opens only while all four
    writes are in flight together.  Written one after another, the
    first wait times out with BrokenBarrierError."""
    barrier = threading.Barrier(4, timeout=60)

    def sink(df, bid):
        barrier.wait()

    pipe = _pipeline_with(fixtures, dict.fromkeys(FOUR_SINKS, sink))
    pipe.process_batch(_fixture_batch(spark, fixtures, str(tmp_path / "store")), 0)


def test_failing_write_lets_the_others_finish(spark, fixtures, tmp_path):
    """A write that fails does not cut the others short: the K-Means
    write still runs to the end with the enriched batch cached, and only
    then is the batch unpersisted and the stats write's error raised."""
    enriched = _fixture_batch(spark, fixtures, str(tmp_path / "store"))
    finished = []

    def failing(df, bid):
        raise RuntimeError("injected stats write failure")

    def slow(df, bid):
        time.sleep(1)
        finished.append(enriched.is_cached)

    pipe = _pipeline_with(fixtures, {"stats_sink": failing, "outlier_sink": slow})
    with pytest.raises(RuntimeError, match="injected stats write failure"):
        pipe.process_batch(enriched, 0)
    assert finished == [True]
    assert not enriched.is_cached


def test_fanout_writes_run_in_the_query_job_group(spark, fixtures, tmp_path):
    """Every write runs its jobs under the streaming query's job group
    (its run id), so StreamingQuery.stop() cancels a batch's writes in
    flight.  A plain thread would see no job group at all."""
    sc = spark.sparkContext
    groups = {}

    def sink_for(kw):
        def sink(df, bid):
            groups[kw] = sc.getLocalProperty("spark.jobGroup.id")

        return sink

    pipe = _pipeline_with(fixtures, {kw: sink_for(kw) for kw in FOUR_SINKS})
    store = KeyedUpsertStore(
        spark, str(tmp_path / "store"), key_col="bearerId", order_col="ts"
    )
    q = pipe.run(fixture_lines(spark, fixtures), store, checkpoint=str(tmp_path / "ckpt"))
    assert groups == dict.fromkeys(FOUR_SINKS, str(q.runId))


def test_run_changes_no_session_conf(spark, fixtures, tmp_path, monkeypatch):
    """A conf set inside a batch would reach every query planned on the
    session meanwhile, the batch's own concurrent writes among them.
    With all four topics wired (the K-Means update included), run()
    makes no RuntimeConfig.set call while it processes the fixture
    lines."""
    from pyspark.sql.conf import RuntimeConfig

    pipe = _pipeline_with(fixtures, dict.fromkeys(FOUR_SINKS, lambda df, bid: df.count()))
    store = KeyedUpsertStore(
        spark, str(tmp_path / "store"), key_col="bearerId", order_col="ts"
    )
    lines = fixture_lines(spark, fixtures)
    real, calls = RuntimeConfig.set, []

    def recording(self, key, value):
        calls.append(key)
        real(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording)
    pipe.run(lines, store, checkpoint=str(tmp_path / "ckpt"))
    assert any(w > 0 for w in pipe.model.weights)  # the update ran
    assert calls == []


def test_steady_state_batch_compiles_no_classes(spark, fixtures, tmp_path):
    """Each micro-batch is planned anew, but its generated classes are
    the same as the last batch's: once the first batches have filled
    the codegen cache, a batch compiles nothing.  All four topics are
    wired through their payload builders to a text write; the counter
    is Spark's own count of Janino compiles in this JVM.  With the
    default 100-entry cache the working set does not fit, and every
    batch recompiles classes it evicted."""
    from botkop_telcotraffic_spark_spark.streaming import payloads as pay

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    fences = read_geofences(spark, fixtures["geo_path"])

    def text_sink(topic, payload):
        def sink(df, bid):
            payload(df).write.mode("overwrite").text(str(tmp_path / topic / f"b{bid}"))

        return sink

    pipe = _pipeline_with(fixtures, {
        "stats_sink": text_sink(
            "celltower_stats", lambda df: pay.metric_stats_payload(df, "celltower")),
        "subscriber_stats_sink": text_sink(
            "subscriber_stats", lambda df: pay.metric_stats_payload(df, "subscriber")),
        "geofence_sink": text_sink(
            "geofence", lambda df: pay.geofence_payload(df, fences)),
        "outlier_sink": text_sink("kmeans_points", pay.cluster_points_payload),
    })
    store = str(tmp_path / "store")
    per_batch = []
    for bid in range(4):
        before = compiles.METRIC_COMPILATION_TIME().getCount()
        pipe.process_batch(_fixture_batch(spark, fixtures, store), bid)
        per_batch.append(compiles.METRIC_COMPILATION_TIME().getCount() - before)
    assert per_batch[2:] == [0, 0], per_batch


def test_streaming_batch_unification(spark):
    """The same windowed_stats operator yields identical results as a
    streaming query (availableNow, complete mode) and a batch query —
    the point of building on Structured Streaming (SURVEY.md §1.4)."""
    from botkop_telcotraffic_spark_spark.sources.tables import load_table

    stream = stream_parquet_table(spark, SF_DIR_001, "events")
    s_out = run_to_memory(
        windowed_stats(stream, "ts", ["user_id"], "value",
                       window="30 seconds", slide="10 seconds", round_digits=6),
        output_mode="complete",
        checkpoint=os.path.join(TMP, "ckpt_unify"),
    )
    batch = load_table(spark, SF_DIR_001, "events")
    b_out = windowed_stats(batch, "ts", ["user_id"], "value",
                           window="30 seconds", slide="10 seconds", round_digits=6)
    s_rows = sorted(map(tuple, s_out.collect()))
    b_rows = sorted(map(tuple, b_out.collect()))
    assert s_rows == b_rows


def test_stateful_zscore_cross_batch_state(spark):
    """applyInPandasWithState carries per-key state across micro-
    batches: two files streamed one-per-trigger must yield the same
    flags as one batch containing all rows (registry/stateful.py)."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.registry.stateful import (
        running_zscore_anomalies,
    )

    src = os.path.join(TMP, "zscore_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(40):
        # stable series with one late spike per user
        v = 100.0 if i != 35 else 500.0
        rows.append(
            {
                "event_id": i,
                "user_id": i % 2,
                "ts": base + datetime.timedelta(seconds=i),
                "value": v + (i % 7) * 0.25,
            }
        )
    pdf = pd.DataFrame(rows)
    # two files, split at mid-time: file order == event-time order
    pdf.iloc[:20].to_parquet(os.path.join(src, "a.parquet"))
    pdf.iloc[20:].to_parquet(os.path.join(src, "b.parquet"))

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = run_to_memory(
        running_zscore_anomalies(stream),
        output_mode="append",
        checkpoint=os.path.join(TMP, "ckpt_zscore"),
    )
    got = {r["event_id"]: (r["n_prior"], r["anomaly"]) for r in out.collect()}
    assert len(got) == 40

    batch_out = run_to_memory(
        running_zscore_anomalies(
            spark.readStream.schema(schema).parquet(src)
        ),
        output_mode="append",
        checkpoint=os.path.join(TMP, "ckpt_zscore_one"),
    )
    expect = {r["event_id"]: (r["n_prior"], r["anomaly"]) for r in batch_out.collect()}
    assert got == expect
    # the spike is flagged, with state accumulated across both files
    assert got[35] == (17, True)
    assert sum(1 for _, (_, a) in got.items() if a) == 1


def test_watermark_append_mode_finalizes_windows(spark):
    """W7: with a watermark, append mode emits each window exactly
    once, finalized, and the emitted rows agree with the batch
    computation (windows still open at end-of-stream stay in state)."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.sources.tables import load_table

    src = os.path.join(TMP, "wm_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    base = datetime.datetime(2024, 3, 1)
    rows = [
        {"user_id": i % 3, "ts": base + datetime.timedelta(seconds=i), "value": float(i)}
        for i in range(120)
    ]
    pdf = pd.DataFrame(rows)
    pdf.iloc[:60].to_parquet(os.path.join(src, "a.parquet"), coerce_timestamps="us")
    pdf.iloc[60:].to_parquet(os.path.join(src, "b.parquet"), coerce_timestamps="us")

    from pyspark.sql import functions as F

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = run_to_memory(
        windowed_stats(stream, "ts", ["user_id"], "value",
                       window="30 seconds", round_digits=6,
                       watermark="10 seconds"),
        output_mode="append",
        checkpoint=os.path.join(TMP, "ckpt_wm"),
    )
    got = {
        (r["window_start"], r["user_id"]): tuple(r)[2:] for r in out.collect()
    }
    assert got, "append mode should emit watermark-passed windows"
    batch = windowed_stats(
        spark.read.parquet(src).withColumn("ts", F.col("ts").cast("timestamp")),
        "ts", ["user_id"], "value", window="30 seconds", round_digits=6,
    )
    expect = {
        (r["window_start"], r["user_id"]): tuple(r)[2:] for r in batch.collect()
    }
    # every emitted window is finalized == identical to batch result
    for k, v in got.items():
        assert expect[k] == v
    # windows not yet passed by the final watermark are withheld
    assert len(got) < len(expect)


def test_streaming_session_windows(spark):
    """W8: native session_window aggregation under Structured
    Streaming (watermark + append) agrees with the batch computation
    for watermark-passed sessions."""
    from pyspark.sql import functions as F

    from botkop_telcotraffic_spark_spark.sources.tables import load_table

    def sessions(df):
        g = df.groupBy(
            F.session_window("ts", "5 minutes").alias("w"), "user_id"
        ).agg(F.count(F.lit(1)).alias("n_events"))
        return g.select(
            F.col("w.start").alias("s"), F.col("w.end").alias("e"),
            "user_id", "n_events",
        )

    stream = stream_parquet_table(spark, SF_DIR_001, "events").withWatermark(
        "ts", "10 seconds"
    )
    s_out = run_to_memory(
        sessions(stream),
        output_mode="append",
        checkpoint=os.path.join(TMP, "ckpt_sess"),
    )
    got = {tuple(r) for r in s_out.collect()}
    assert got, "no sessions emitted"
    batch = sessions(load_table(spark, SF_DIR_001, "events"))
    expect = {tuple(r) for r in batch.collect()}
    assert got <= expect  # emitted sessions are finalized == batch-identical
    assert len(got) >= len(expect) - 50  # only tail sessions may be withheld


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicate keys within the watermark
    horizon collapse to their first arrival; distinct keys survive."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from botkop_telcotraffic_spark_spark.registry.dedup_stream import (
        dedup_content_stream,
        dedup_exact_stream,
    )

    rows = []
    for i in range(40):
        rows.append({"event_id": i % 10, "payload": f"p{i % 5}", "ts_ms": 1_700_000_000_000 + i * 1000})
    src = tmp_path / "src"
    src.mkdir()
    (src / "part.jsonl").write_text("\n".join(_json.dumps(r) for r in rows))

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("payload", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.format("text")
        .load(str(src))
        .select(F.from_json("value", schema).alias("e"))
        .select("e.*", F.timestamp_millis(F.col("e.ts_ms")).alias("ts"))
    )

    by_key = run_to_memory(
        dedup_exact_stream(stream, ["event_id"], delay="10 minutes"),
        output_mode="append",
        checkpoint=str(tmp_path / "ck1"),
    ).collect()
    assert sorted(r["event_id"] for r in by_key) == list(range(10))
    # first arrival wins: event_id k keeps ts_ms offset k*1000
    assert all(r["ts_ms"] == 1_700_000_000_000 + r["event_id"] * 1000 for r in by_key)

    by_content = run_to_memory(
        dedup_content_stream(stream, ["payload"], delay="10 minutes"),
        output_mode="append",
        checkpoint=str(tmp_path / "ck2"),
    ).collect()
    assert sorted(r["payload"] for r in by_content) == [f"p{i}" for i in range(5)]


def test_checkpoint_restart_no_double_count(spark, tmp_path):
    """W4 checkpoint recovery: a windowed count query stopped and
    restarted from its checkpoint processes appended data exactly
    once (no re-aggregation of batch-1 rows)."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src = tmp_path / "src"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("ts_ms", T.LongType())]
    )

    def write_batch(fname, rows):
        (src / fname).write_text(
            "\n".join(_json.dumps(r) for r in rows)
        )

    def make_query():
        stream = (
            spark.readStream.format("text")
            .load(str(src))
            .select(F.from_json("value", schema).alias("e"))
            .select("e.k", F.timestamp_millis(F.col("e.ts_ms")).alias("ts"))
        )
        counts = stream.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        return (
            counts.writeStream.format("memory")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
        )

    base = 1_700_000_000_000
    write_batch("b1.jsonl", [{"k": "a", "ts_ms": base + i} for i in range(10)])
    q = make_query().queryName("ckpt_run1").start()
    q.awaitTermination()
    got1 = {r["k"]: r["n"] for r in spark.table("ckpt_run1").collect()}
    assert got1 == {"a": 10}

    write_batch("b2.jsonl", [{"k": "a", "ts_ms": base + 100 + i} for i in range(5)] +
                            [{"k": "b", "ts_ms": base + 200 + i} for i in range(3)])
    q2 = make_query().queryName("ckpt_run2").start()
    q2.awaitTermination()
    got2 = {r["k"]: r["n"] for r in spark.table("ckpt_run2").collect()}
    # complete-mode state restored from checkpoint: 10+5 a's, 3 b's —
    # NOT 20 a's (double count) and NOT 5 (state loss)
    assert got2 == {"a": 15, "b": 3}


def test_rocksdb_state_store_profile(spark, tmp_path):
    """tws.enable_large_state switches stateful queries to the
    RocksDB state store (bounded executor memory at any key
    cardinality); a watermarked streaming dedup produces identical
    results under it."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from botkop_telcotraffic_spark_spark.registry.tws import (
        LARGE_STATE_CONFS,
        enable_large_state,
    )
    from botkop_telcotraffic_spark_spark.registry.dedup_stream import (
        dedup_exact_stream,
    )

    rows = [
        {"event_id": i % 7, "ts_ms": 1_700_000_000_000 + i * 1000}
        for i in range(30)
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "part.jsonl").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.format("text")
        .load(str(src))
        .select(F.from_json("value", schema).alias("e"))
        .select("e.*", F.timestamp_millis(F.col("e.ts_ms")).alias("ts"))
    )
    prev = {k: spark.conf.get(k, None) for k in LARGE_STATE_CONFS}
    enable_large_state(spark)
    try:
        got = run_to_memory(
            dedup_exact_stream(stream, ["event_id"], delay="10 minutes"),
            output_mode="append",
            checkpoint=str(tmp_path / "ck_rocks"),
        ).collect()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert sorted(r["event_id"] for r in got) == list(range(7))
    # state store provider was actually in effect for the query
    offsets = (tmp_path / "ck_rocks" / "offsets").glob("*")
    blob = b"".join(p.read_bytes() for p in offsets if p.is_file())
    assert b"RocksDBStateStoreProvider" in blob


def test_simulator_batch_source_deterministic(spark):
    """Python DataSource batch reader: deterministic rows from
    (seed, index), option-controlled partitioning, and attach ⨝
    celltower joinability on bearer_id (the reference's enrichment
    key)."""
    from botkop_telcotraffic_spark_spark.sources import simulator

    simulator.register(spark)
    read = (
        spark.read.format("telco_traffic")
        .option("rows", 200)
        .option("partitions", 3)
        .option("seed", 7)
    )
    a = read.load()
    assert a.rdd.getNumPartitions() == 3
    rows1 = sorted(a.collect(), key=lambda r: r["ts_ms"])
    rows2 = sorted(read.load().collect(), key=lambda r: r["ts_ms"])
    assert rows1 == rows2
    assert len(rows1) == 200
    assert {r["mcc"] for r in rows1} == {206}
    assert all("rtt" in r["metrics"] and "byteLoss" in r["metrics"] for r in rows1)

    attach = (
        spark.read.format("telco_traffic")
        .option("kind", "attach")
        .option("rows", 300)
        .option("seed", 7)
        .load()
    )
    joined = a.join(attach.select("bearer_id").distinct(), "bearer_id")
    assert joined.count() > 0


def test_simulator_stream_advances_offsets(spark, tmp_path):
    """Python DataSource stream reader: each availableNow run
    processes the next deterministic micro-batch from the shared
    checkpoint — replay is a pure function of (seed, batch, index)."""
    from botkop_telcotraffic_spark_spark.sources import simulator
    from botkop_telcotraffic_spark_spark.sources.simulator import _celltower_row

    simulator.register(spark)
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run_once():
        s = (
            spark.readStream.format("telco_traffic")
            .option("rows_per_batch", 40)
            .option("seed", 11)
            .load()
        )
        q = (
            s.drop("metrics")  # parquet sink test: flat columns suffice
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            spark.read.parquet(out).collect(), key=lambda r: r["ts_ms"]
        )

    got1 = run_once()
    got2 = run_once()
    exp1 = [_celltower_row(11, i, 100, 1_700_000_000_000, 100) for i in range(40)]
    exp80 = [
        _celltower_row(11, i, 100, 1_700_000_000_000, 100) for i in range(80)
    ]
    assert [tuple(r)[:7] for r in got1] == [e[:7] for e in exp1]
    # second availableNow run resumed from the checkpoint: batch 1
    # appended after batch 0, nothing reprocessed
    assert [tuple(r)[:7] for r in got2] == [e[:7] for e in exp80]


def test_upsert_store_reopen_reads_latest_version(spark, tmp_path):
    """A store REOPENED from disk reads the version its pointer names,
    and an upsert through the reopened store is latest-wins over the
    rows the first writer published and leaves one version on disk."""
    path = str(tmp_path / "store")
    w = KeyedUpsertStore(spark, path, key_col="k", order_col="v")
    w.upsert(spark.createDataFrame([(i, 0) for i in range(30)], ["k", "v"]))
    r = KeyedUpsertStore(spark, path, key_col="k", order_col="v")
    r.upsert(spark.createDataFrame([(1, 5), (99, 0)], ["k", "v"]))
    snap = {x["k"]: x["v"] for x in r.snapshot().collect()}
    assert snap[1] == 5 and snap[99] == 0 and len(snap) == 31
    assert sorted(os.listdir(path)) == ["_CURRENT", "v1"]


def test_upsert_crash_mid_publish_keeps_prior_snapshot(spark, tmp_path, monkeypatch):
    """A crash while an upsert publishes its result leaves the store's
    prior snapshot whole: a reopened store reads exactly the rows before
    the crash, and the next upsert is latest-wins over everything."""
    path = str(tmp_path / "store")
    seed = [(i, 0, f"a{i}") for i in range(20)]
    store = KeyedUpsertStore(spark, path, key_col="k", order_col="ts")
    store.upsert(spark.createDataFrame(seed, ["k", "ts", "val"]))

    def crash(*args, **kwargs):
        raise OSError("injected crash")

    overlap = [(i, 1, f"b{i}") for i in range(10, 25)]
    batch = spark.createDataFrame(overlap, ["k", "ts", "val"])
    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash)
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError, match="injected crash"):
            store.upsert(batch)

    def rows(s):
        return sorted((r["k"], r["ts"], r["val"]) for r in s.snapshot().collect())

    reopened = KeyedUpsertStore(spark, path, key_col="k", order_col="ts")
    assert rows(reopened) == sorted(seed)

    reopened.upsert(batch)
    latest = {k: (k, ts, v) for k, ts, v in sorted(seed + overlap, key=lambda r: r[1])}
    assert rows(reopened) == sorted(latest.values())


def test_upsert_with_preread_cur_matches_plain_upsert(spark, tmp_path):
    """upsert(batch, cur=snapshot()) — the one-read-per-batch hot
    path — must produce the identical snapshot as a plain upsert."""
    rows0 = [(i, 0, f"a{i}") for i in range(20)]
    rows1 = [(i, 1, f"b{i}") for i in range(5, 10)] + [(50, 1, "new")]
    snaps = []
    for use_cur in (False, True):
        store = KeyedUpsertStore(
            spark, str(tmp_path / f"s_{use_cur}"), key_col="k", order_col="ts"
        )
        store.upsert(spark.createDataFrame(rows0, ["k", "ts", "val"]))
        batch = spark.createDataFrame(rows1, ["k", "ts", "val"])
        if use_cur:
            store.upsert(batch, cur=store.snapshot())
        else:
            store.upsert(batch)
        snaps.append(
            sorted((r["k"], r["ts"], r["val"]) for r in store.snapshot().collect())
        )
    assert snaps[0] == snaps[1]
    assert (50, 1, "new") in snaps[0] and (7, 1, "b7") in snaps[0]


def test_empty_upsert_does_not_create_store(spark, tmp_path):
    """A batch with no rows (the pipeline upserts every micro-batch,
    also those with no attach lines) must not commit a store with no
    snapshot: snapshot() stays None and a join drops every fact."""
    store = KeyedUpsertStore(spark, str(tmp_path / "store"), key_col="k", order_col="v")
    store.upsert(spark.createDataFrame([], "k bigint, v bigint"))
    assert store.snapshot() is None
    facts = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, x string")
    assert store.join(facts, fact_key="k").count() == 0


def test_empty_upsert_leaves_existing_store_untouched(spark, tmp_path):
    """On an existing store, a batch with no rows writes, removes and
    rewrites no file, and costs at most the one job that finds it empty."""
    path = str(tmp_path / "store")
    store = KeyedUpsertStore(spark, path, key_col="k", order_col="v")
    store.upsert(spark.createDataFrame([(i, 0) for i in range(20)], "k bigint, v bigint"))

    def store_files():
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
        return out

    before = store_files()
    assert before, "the seeded store must have files"
    sc = spark.sparkContext
    group, prev = "empty-upsert", sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        store.upsert(spark.createDataFrame([], "k bigint, v bigint"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert store_files() == before
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
    assert store.snapshot().count() == 20


def test_geofence_sink_requires_geofence_path():
    """A wired geofence sink with no fence file is a misconfiguration,
    refused up front rather than publishing nothing; a fence file with
    no sink stays valid (geofence_matches is called directly)."""
    with pytest.raises(ValueError, match="geofence_path"):
        TrafficPipeline(
            metric_names=["rtt"], kmeans_dims=["rtt"],
            geofence_sink=lambda df, bid: None,
        )
    pipe = TrafficPipeline(
        metric_names=["rtt"], kmeans_dims=["rtt"], geofence_path="fences.json"
    )
    assert pipe.geofence_sink is None


def test_alert_stream_mode_is_refused():
    """There is one K-Means mode: the outlier sink gets every scored
    point, and the points message flags the outliers among them.
    ``publish_all_points=False``, which would hand the sink only the
    flagged rows, is refused up front."""
    with pytest.raises(ValueError, match="publish_all_points"):
        TrafficPipeline(
            metric_names=["rtt"], kmeans_dims=["rtt"], publish_all_points=False
        )


@pytest.mark.parametrize("dims, k", [([], 3), (["rtt"], 0)], ids=["no_dims", "k0"])
def test_outlier_sink_requires_kmeans_dims_and_k(dims, k):
    """A wired outlier sink needs at least one K-Means dimension and one
    cluster: with no dimension the distance SQL has no term and the
    first batch fails to resolve it, and with no cluster no point has a
    centroid to be scored against.  Refused up front; unwired, the same
    settings stay valid."""
    with pytest.raises(ValueError, match="kmeans_dims"):
        TrafficPipeline(
            metric_names=["rtt"], kmeans_dims=dims, k=k,
            outlier_sink=lambda df, bid: None,
        )
    assert TrafficPipeline(metric_names=["rtt"], kmeans_dims=dims, k=k).outlier_sink is None


def test_read_geofences_refuses_duplicate_names(tmp_path):
    """The payload looks fences up by name, so a fence file that names
    two fences alike is outside input refused at read time."""
    path = tmp_path / "fences.json"
    path.write_text(json.dumps(GEOFENCES + [GEOFENCES[1]]))
    with pytest.raises(ValueError, match="duplicate geofence name 'west'"):
        read_geofences(None, str(path))


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_read_geofences_refuses_non_finite_coordinates(tmp_path, bad):
    """The containment test is SQL text with one DOUBLE literal per
    coordinate, and NaN/±Inf have no literal form: a fence file that
    holds one is refused at read time, naming the fence."""
    fences = json.loads(json.dumps(GEOFENCES))
    fences[1]["polygon"][2]["lng"] = bad
    path = tmp_path / "fences.json"
    path.write_text(json.dumps(fences))  # NaN / Infinity tokens
    with pytest.raises(ValueError, match="geofence 'west'.*non-finite"):
        read_geofences(None, str(path))


@pytest.mark.parametrize("name", ["o'k\\x", "débit→😀"])
def test_stats_payload_renders_any_metric_name(spark, name):
    """Metric names enter the stats' SQL text only through its quoting
    helper: a name with a quote and a backslash, or with non-ASCII
    characters (one outside the BMP), aggregates and renders verbatim,
    in the payload's exact bytes."""
    import datetime as dt

    from botkop_telcotraffic_spark_spark.streaming.payloads import (
        STAT_ENTRY_FMT,
        metric_stats_payload,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    enriched = spark.createDataFrame(
        [
            (1, ("c0",), {name: v, "rtt": 2 * v}, t0 + dt.timedelta(seconds=v))
            for v in (1.0, 3.0)
        ],
        "subscriber bigint, celltower struct<id:string>, "
        "metrics map<string,double>, event_time timestamp",
    )
    msgs = []
    TrafficPipeline(
        metric_names=[name, "rtt"],
        kmeans_dims=["rtt"],
        slide=None,
        stats_sink=lambda df, bid: msgs.extend(
            r["value"] for r in metric_stats_payload(df, "celltower").collect()
        ),
    ).process_batch(enriched, 0)

    entries = {
        name: STAT_ENTRY_FMT % (name, 2, 2.0, 1.0, 3.0, 1.0),
        "rtt": STAT_ENTRY_FMT % ("rtt", 2, 4.0, 2.0, 6.0, 2.0),
    }
    stats = ",".join(entries[m] for m in sorted(entries))
    assert msgs == [f'{{ "celltower":{{"id":"c0"}}, "stats":{{{stats}}} }}']


def test_geofence_payload_renders_fence_added_by_reload(spark, tmp_path):
    """S5/W9 hot reload through the payload: the fence file is rewritten
    between two batches to add a fence.  The second batch's payload,
    built from the re-read fence list, carries the new fence's full
    JSON (integer coordinates rendered as doubles), never a null
    value."""
    fx = write_fixtures(str(tmp_path / "fx"))
    store = KeyedUpsertStore(
        spark, str(tmp_path / "store"), key_col="bearerId", order_col="ts"
    )
    out = {}

    def sink(df, bid):
        fences = read_geofences(spark, fx["geo_path"])
        out[bid] = [r["value"] for r in geofence_payload(df, fences).collect()]

    pipe = TrafficPipeline(
        metric_names=["rtt"], kmeans_dims=["rtt"],
        geofence_path=fx["geo_path"], geofence_sink=sink,
    )
    ckpt = str(tmp_path / "ckpt")
    pipe.run(fixture_lines(spark, fx), store, checkpoint=ckpt)
    everywhere = {
        "name": "everywhere",
        "path": "enc2",
        "polygon": [
            {"lat": -90, "lng": -180}, {"lat": 90, "lng": -180},
            {"lat": 90, "lng": 180}, {"lat": -90, "lng": 180},
        ],
    }
    with open(fx["geo_path"], "w") as fh:
        json.dump(GEOFENCES + [everywhere], fh)
    cell_file = os.path.join(fx["cell_path"], "celltower.jsonl")
    shutil.copy(cell_file, os.path.join(fx["cell_path"], "celltower2.jsonl"))
    pipe.run(fixture_lines(spark, fx), store, checkpoint=ckpt)

    assert sorted(out) == [0, 1]
    assert out[0] and None not in out[0]
    assert not any('"name":"everywhere"' in v for v in out[0])
    assert None not in out[1]
    new = [v for v in out[1] if '"name":"everywhere"' in v]
    known = set(latest_attach_by_bearer(fx["attaches"]))
    assert len(new) == sum(c["bearerId"] in known for c in fx["cells"])
    fence_json = (
        '{"name":"everywhere","path":"enc2","polygon":[{"lat":-90.0,"lng":-180.0},'
        '{"lat":90.0,"lng":-180.0},{"lat":90.0,"lng":180.0},{"lat":-90.0,"lng":180.0}]}'
    )
    assert all(v.endswith(f', "geofence": {fence_json} }}') for v in new)


def test_idle_session_timer_finalizes_on_watermark(spark):
    """Event-time timeout (registry/tws.py::idle_sessions):
    sessions from file A (two users, events within a minute) finalize
    when file B's much-later events advance the watermark past
    last+gap; the session B (re)opens stays un-emitted at query end —
    at-watermark semantics."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.registry.tws import enable_large_state
    from botkop_telcotraffic_spark_spark.registry.tws import idle_sessions

    enable_large_state(spark)
    src = os.path.join(TMP, "idle_sess_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def row(uid, sec, v):
        return {"user_id": uid, "ts": t0 + datetime.timedelta(seconds=sec),
                "value": v}

    a = pd.DataFrame([row(1, 0, 10.0), row(1, 30, 20.0), row(1, 60, 30.0),
                      row(2, 10, 5.0), row(2, 40, 7.0)])
    b = pd.DataFrame([row(1, 3600, 99.0)])  # one hour later
    # micros, not pandas' default nanos: watermarks need TIMESTAMP,
    # and the session reads TIMESTAMP(NANOS) as long (nanosAsLong)
    a.to_parquet(os.path.join(src, "a.parquet"), coerce_timestamps="us")
    b.to_parquet(os.path.join(src, "b.parquet"), coerce_timestamps="us")
    shutil.rmtree(os.path.join(TMP, "ckpt_idle_sess"), ignore_errors=True)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "10 seconds")
    )
    out = run_to_memory(
        idle_sessions(stream, gap="5 minutes"),
        output_mode="append",
        checkpoint=os.path.join(TMP, "ckpt_idle_sess"),
    )
    got = {r["user_id"]: (r["n"], r["vsum"]) for r in out.collect()}
    # u1's file-A session (3 events) and u2's (2 events) closed; u1's
    # file-B session is still open -> exactly two rows
    assert got == {1: (3, 60.0), 2: (2, 12.0)}


def test_mapstate_type_counts_accumulate_across_batches(spark):
    """Map-valued keyed state (registry/tws.py::running_type_counts):
    counts accumulate per (user, type) across two micro-batches; the
    final emission per pair equals the full-batch group-by."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.registry.tws import enable_large_state
    from botkop_telcotraffic_spark_spark.registry.tws import (
        running_type_counts,
    )

    enable_large_state(spark)
    src = os.path.join(TMP, "type_counts_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    a = pd.DataFrame(
        {"user_id": [1, 1, 2], "event_type": ["view", "click", "view"]}
    )
    b = pd.DataFrame(
        {"user_id": [1, 2, 2], "event_type": ["view", "view", "buy"]}
    )
    a.to_parquet(os.path.join(src, "a.parquet"))
    b.to_parquet(os.path.join(src, "b.parquet"))
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    shutil.rmtree(os.path.join(TMP, "ckpt_type_counts"), ignore_errors=True)
    out = run_to_memory(
        running_type_counts(stream),
        output_mode="update",
        checkpoint=os.path.join(TMP, "ckpt_type_counts"),
    )
    rows = out.collect()
    # LAST emission per (user, type) is the running total
    last = {}
    for r in rows:
        last[(r["user_id"], r["event_type"])] = max(
            r["n"], last.get((r["user_id"], r["event_type"]), 0)
        )
    assert last == {
        (1, "view"): 2, (1, "click"): 1,
        (2, "view"): 2, (2, "buy"): 1,
    }


def test_lastk_features_carry_history_across_batches(spark):
    """Array-valued keyed state in registry/tws.py::
    rolling_history_features: the prior-3 mean for the first event of
    file B uses values from file A (state carries); null values are
    skipped in history and emission."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.registry.tws import enable_large_state
    from botkop_telcotraffic_spark_spark.registry.tws import (
        rolling_history_features,
    )

    enable_large_state(spark)
    src = os.path.join(TMP, "lastk_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    t0 = datetime.datetime(2024, 1, 1)

    def row(eid, sec, v):
        return {"event_id": eid, "user_id": 1,
                "ts": t0 + datetime.timedelta(seconds=sec), "value": v}

    a = pd.DataFrame([row(1, 1, 10.0), row(2, 2, 20.0),
                      row(3, 3, None), row(4, 4, 30.0)])
    b = pd.DataFrame([row(5, 10, 40.0), row(6, 11, 50.0)])
    a.to_parquet(os.path.join(src, "a.parquet"), coerce_timestamps="us")
    b.to_parquet(os.path.join(src, "b.parquet"), coerce_timestamps="us")
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    shutil.rmtree(os.path.join(TMP, "ckpt_lastk"), ignore_errors=True)
    out = run_to_memory(
        rolling_history_features(stream, k=3),
        output_mode="append",
        checkpoint=os.path.join(TMP, "ckpt_lastk"),
    )
    got = {r["event_id"]: (r["n_prior"], r["mean_k"]) for r in out.collect()}
    assert got == {
        1: (0, None),
        2: (1, 10.0),
        4: (2, 15.0),                 # null event 3 skipped
        5: (3, 20.0),                 # (10+20+30)/3, carried from file A
        6: (3, 30.0),                 # (20+30+40)/3
    }


def test_handover_transitions_cross_batch(spark):
    """handover_transitions carries the last cell across micro-batches:
    a transition whose endpoints straddle a file boundary is emitted
    EXACTLY once, and two-file one-per-trigger replay equals the
    single-batch run (registry/tws.py::handover_transitions)."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.registry.tws import (
        handover_transitions,
    )

    src = os.path.join(TMP, "handover_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    # user 0: A A | B B  (transition A->B straddles the file split)
    # user 1: X Y | Y X  (one transition per file)
    rows = []
    cells = {0: ["A", "A", "B", "B"], 1: ["X", "Y", "Y", "X"]}
    for u, seq in cells.items():
        for i, c in enumerate(seq):
            rows.append(
                {"event_id": u * 10 + i, "user_id": u,
                 "t": float(i), "cell": c}
            )
    pdf = pd.DataFrame(rows).sort_values("t")
    pdf[pdf["t"] < 2].to_parquet(os.path.join(src, "a.parquet"))
    pdf[pdf["t"] >= 2].to_parquet(os.path.join(src, "b.parquet"))

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = run_to_memory(
        handover_transitions(stream),
        output_mode="append",
        checkpoint=os.path.join(TMP, "ckpt_handover"),
    )
    got = sorted(
        (r["user_id"], r["from_cell"], r["to_cell"], r["t"])
        for r in out.collect()
    )
    assert got == [
        (0, "A", "B", 2.0),
        (1, "X", "Y", 1.0),
        (1, "Y", "X", 3.0),
    ]

    single = run_to_memory(
        handover_transitions(
            spark.readStream.schema(schema).parquet(src)
        ),
        output_mode="append",
        checkpoint=os.path.join(TMP, "ckpt_handover_one"),
    )
    assert got == sorted(
        (r["user_id"], r["from_cell"], r["to_cell"], r["t"])
        for r in single.collect()
    )


def test_pingpong_bounces_cross_batch(spark):
    """pingpong_bounces carries the last TWO fixes across
    micro-batches: a bounce whose three fixes straddle a file
    boundary is emitted EXACTLY once, the time guard drops slow
    excursions, and two-file one-per-trigger replay equals the
    single-batch run (registry/tws.py::pingpong_bounces)."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.registry.tws import (
        pingpong_bounces,
    )

    src = os.path.join(TMP, "pingpong_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    # user 0: A B | A C  (bounce A-B-A straddles the file split)
    # user 1: X Y X | _  (fast in-file bounce)
    # user 2: P Q | P    (SLOW: excursion 200 s > guard 100 s)
    rows = [
        {"event_id": 1, "user_id": 0, "t": 0.0, "cell": "A"},
        {"event_id": 2, "user_id": 0, "t": 10.0, "cell": "B"},
        {"event_id": 3, "user_id": 0, "t": 20.0, "cell": "A"},
        {"event_id": 4, "user_id": 0, "t": 30.0, "cell": "C"},
        {"event_id": 5, "user_id": 1, "t": 0.0, "cell": "X"},
        {"event_id": 6, "user_id": 1, "t": 5.0, "cell": "Y"},
        {"event_id": 7, "user_id": 1, "t": 9.0, "cell": "X"},
        {"event_id": 8, "user_id": 2, "t": 0.0, "cell": "P"},
        {"event_id": 9, "user_id": 2, "t": 100.0, "cell": "Q"},
        {"event_id": 10, "user_id": 2, "t": 200.0, "cell": "P"},
    ]
    pdf = pd.DataFrame(rows)
    pdf[pdf["t"] < 15].to_parquet(os.path.join(src, "a.parquet"))
    pdf[pdf["t"] >= 15].to_parquet(os.path.join(src, "b.parquet"))

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = run_to_memory(
        pingpong_bounces(stream, max_gap_s=100.0),
        output_mode="append",
        checkpoint=os.path.join(TMP, "ckpt_pingpong"),
    )
    got = sorted(
        (r["user_id"], r["cell_a"], r["cell_b"], r["t"])
        for r in out.collect()
    )
    assert got == [(0, "A", "B", 20.0), (1, "X", "Y", 9.0)]

    single = run_to_memory(
        pingpong_bounces(
            spark.readStream.schema(schema).parquet(src),
            max_gap_s=100.0,
        ),
        output_mode="append",
        checkpoint=os.path.join(TMP, "ckpt_pingpong_one"),
    )
    assert got == sorted(
        (r["user_id"], r["cell_a"], r["cell_b"], r["t"])
        for r in single.collect()
    )


def test_conversion_lags_cross_batch_emit_once(spark):
    """conversion_lags carries (first_us, done) across
    micro-batches: a click|purchase pair straddling a file boundary
    emits exactly one lag, later purchases emit nothing, a purchase
    BEFORE any click does not convert, and two-file one-per-trigger
    replay equals the single-batch run (registry/tws.py::
    conversion_lags)."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.registry.tws import conversion_lags

    src = os.path.join(TMP, "convlag_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    rows = [
        # user 0: click@10 | purchase@25, purchase@40 -> one lag 15
        {"event_id": 1, "user_id": 0, "us": 10, "event_type": "click"},
        {"event_id": 2, "user_id": 0, "us": 25, "event_type": "purchase"},
        {"event_id": 3, "user_id": 0, "us": 40, "event_type": "purchase"},
        # user 1: purchase@5 (before click) | click@12 -> no conversion
        {"event_id": 4, "user_id": 1, "us": 5, "event_type": "purchase"},
        {"event_id": 5, "user_id": 1, "us": 12, "event_type": "click"},
        # user 2: in-file click@1 purchase@3 -> lag 2
        {"event_id": 6, "user_id": 2, "us": 1, "event_type": "click"},
        {"event_id": 7, "user_id": 2, "us": 3, "event_type": "purchase"},
    ]
    pdf = pd.DataFrame(rows)
    pdf[pdf["us"] < 12].to_parquet(os.path.join(src, "a.parquet"))
    pdf[pdf["us"] >= 12].to_parquet(os.path.join(src, "b.parquet"))

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = run_to_memory(
        conversion_lags(stream, "click", "purchase"),
        output_mode="append",
        checkpoint=os.path.join(TMP, "ckpt_convlag"),
    )
    got = sorted((r["user_id"], r["lag_us"]) for r in out.collect())
    assert got == [(0, 15), (2, 2)]

    single = run_to_memory(
        conversion_lags(
            spark.readStream.schema(schema).parquet(src),
            "click",
            "purchase",
        ),
        output_mode="append",
        checkpoint=os.path.join(TMP, "ckpt_convlag_one"),
    )
    assert got == sorted(
        (r["user_id"], r["lag_us"]) for r in single.collect()
    )


# ---------------------------------------------------------------------------
# Kill-and-restart chaos tests (round-6 verdict #7): the keyed-state
# operators must survive a query stop between micro-batches — state is
# restored from the checkpointed store, output accumulates EXACTLY
# once through the exactly-once streaming parquet sink, and the final
# table is byte-identical to an uninterrupted run over the same data.
# ---------------------------------------------------------------------------


def _run_parquet_sink(stream_df, out_dir: str, ckpt: str) -> None:
    """Run an append-mode stream to the exactly-once parquet file sink
    (availableNow), reusing ``ckpt`` so a second call resumes from the
    committed offsets + state."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_conversion_lag_restart_exactly_once(spark):
    """conversion_lags across a KILLED query: click lands in
    run 1, the query stops, the purchase arrives, a new query restarts
    from the same checkpoint — the lag row is emitted exactly once and
    the accumulated sink equals the uninterrupted run byte-for-byte."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.registry.tws import conversion_lags

    src = os.path.join(TMP, "convlag_chaos_src")
    out = os.path.join(TMP, "convlag_chaos_out")
    ckpt = os.path.join(TMP, "convlag_chaos_ckpt")
    for d in (src, out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    b1 = pd.DataFrame(
        [
            {"event_id": 1, "user_id": 0, "us": 10, "event_type": "click"},
            {"event_id": 6, "user_id": 2, "us": 1, "event_type": "click"},
            {"event_id": 7, "user_id": 2, "us": 3, "event_type": "purchase"},
            {"event_id": 4, "user_id": 1, "us": 5, "event_type": "purchase"},
        ]
    )
    b2 = pd.DataFrame(
        [
            {"event_id": 2, "user_id": 0, "us": 25, "event_type": "purchase"},
            {"event_id": 3, "user_id": 0, "us": 40, "event_type": "purchase"},
            {"event_id": 5, "user_id": 1, "us": 12, "event_type": "click"},
        ]
    )
    b1.to_parquet(os.path.join(src, "a.parquet"))
    schema = spark.read.parquet(src).schema

    def q():
        return conversion_lags(
            spark.readStream.schema(schema).parquet(src), "click", "purchase"
        )

    _run_parquet_sink(q(), out, ckpt)  # run 1: only b1 exists; then "killed"
    got1 = sorted(
        (r["user_id"], r["lag_us"]) for r in spark.read.parquet(out).collect()
    )
    assert got1 == [(2, 2)]  # user 0 still pending IN STATE

    b2.to_parquet(os.path.join(src, "b.parquet"))
    _run_parquet_sink(q(), out, ckpt)  # restart from checkpoint
    got2 = sorted(
        (r["user_id"], r["lag_us"]) for r in spark.read.parquet(out).collect()
    )
    # cross-restart conversion emitted once, earlier row NOT re-emitted
    assert got2 == [(0, 15), (2, 2)]

    # uninterrupted reference over the same two files
    out_ref = os.path.join(TMP, "convlag_chaos_ref")
    ckpt_ref = os.path.join(TMP, "convlag_chaos_ckpt_ref")
    shutil.rmtree(out_ref, ignore_errors=True)
    shutil.rmtree(ckpt_ref, ignore_errors=True)
    _run_parquet_sink(
        conversion_lags(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            "click",
            "purchase",
        ),
        out_ref,
        ckpt_ref,
    )
    ref = sorted(
        (r["user_id"], r["lag_us"]) for r in spark.read.parquet(out_ref).collect()
    )
    assert got2 == ref


def test_pingpong_restart_exactly_once(spark):
    """pingpong_bounces across a KILLED query: the A->B fixes land in
    run 1, the returning A arrives after a restart — the bounce is
    emitted exactly once from restored (last two fixes) state, and the
    accumulated sink equals the uninterrupted run."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.registry.tws import pingpong_bounces

    src = os.path.join(TMP, "pingpong_chaos_src")
    out = os.path.join(TMP, "pingpong_chaos_out")
    ckpt = os.path.join(TMP, "pingpong_chaos_ckpt")
    for d in (src, out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    b1 = pd.DataFrame(
        [
            {"event_id": 1, "user_id": 0, "t": 0.0, "cell": "A"},
            {"event_id": 2, "user_id": 0, "t": 10.0, "cell": "B"},
            {"event_id": 5, "user_id": 1, "t": 0.0, "cell": "X"},
            {"event_id": 6, "user_id": 1, "t": 5.0, "cell": "Y"},
            {"event_id": 7, "user_id": 1, "t": 9.0, "cell": "X"},
        ]
    )
    b2 = pd.DataFrame(
        [
            {"event_id": 3, "user_id": 0, "t": 20.0, "cell": "A"},
            {"event_id": 4, "user_id": 0, "t": 30.0, "cell": "C"},
        ]
    )
    b1.to_parquet(os.path.join(src, "a.parquet"))
    schema = spark.read.parquet(src).schema

    def q():
        return pingpong_bounces(
            spark.readStream.schema(schema).parquet(src), max_gap_s=100.0
        )

    _run_parquet_sink(q(), out, ckpt)
    got1 = sorted(
        (r["user_id"], r["cell_a"], r["cell_b"], r["t"])
        for r in spark.read.parquet(out).collect()
    )
    assert got1 == [(1, "X", "Y", 9.0)]  # user 0's bounce still open

    b2.to_parquet(os.path.join(src, "b.parquet"))
    _run_parquet_sink(q(), out, ckpt)
    got2 = sorted(
        (r["user_id"], r["cell_a"], r["cell_b"], r["t"])
        for r in spark.read.parquet(out).collect()
    )
    assert got2 == [(0, "A", "B", 20.0), (1, "X", "Y", 9.0)]

    out_ref = os.path.join(TMP, "pingpong_chaos_ref")
    ckpt_ref = os.path.join(TMP, "pingpong_chaos_ckpt_ref")
    shutil.rmtree(out_ref, ignore_errors=True)
    shutil.rmtree(ckpt_ref, ignore_errors=True)
    _run_parquet_sink(
        pingpong_bounces(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            max_gap_s=100.0,
        ),
        out_ref,
        ckpt_ref,
    )
    ref = sorted(
        (r["user_id"], r["cell_a"], r["cell_b"], r["t"])
        for r in spark.read.parquet(out_ref).collect()
    )
    assert got2 == ref


def test_streaming_hll_restart_exactly_once(spark):
    """The streaming HLL register pipeline across a KILLED query:
    run 1 writes batch-1 register partials through the foreachBatch
    parquet sink, the query stops, new users arrive, the restarted
    query (same checkpoint) processes ONLY the new batch — no
    double-written partials — and the merged estimate equals both the
    uninterrupted streaming run and the plain batch sketch."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.operators import sketch
    from botkop_telcotraffic_spark_spark.registry.runner import idempotent_parquet_sink

    src = os.path.join(TMP, "shll_chaos_src")
    out = os.path.join(TMP, "shll_chaos_out")
    ckpt = os.path.join(TMP, "shll_chaos_ckpt")
    for d in (src, out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    b1 = pd.DataFrame(
        [{"event_type": "click", "user_id": i} for i in range(40)]
        + [{"event_type": "error", "user_id": i} for i in range(10)]
    )
    b2 = pd.DataFrame(
        # 20 overlap + 20 new click users, plus a new type
        [{"event_type": "click", "user_id": 20 + i} for i in range(40)]
        + [{"event_type": "view", "user_id": i} for i in range(5)]
    )
    b1.to_parquet(os.path.join(src, "a.parquet"))
    schema = spark.read.parquet(src).schema
    sink = idempotent_parquet_sink(out)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: sink(
                    sketch.ohll_registers(df, ["event_type"], "user_id"), bid
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()  # run 1: b1 only, then "killed"
    n_rows_run1 = spark.read.parquet(out).count()
    b2.to_parquet(os.path.join(src, "b.parquet"))
    run()  # restart: must process ONLY the new file
    regs = spark.read.parquet(out)
    # batch-1 partials written exactly once: restart added only rows
    # stamped with a LATER _batch_id
    assert regs.where("_batch_id = 0").count() == n_rows_run1
    est = {
        r["event_type"]: r["est_distinct"]
        for r in sketch.ohll_estimate(
            sketch.ohll_merge(regs, ["event_type"]), ["event_type"]
        ).collect()
    }

    # reference 1: plain batch sketch over the full data
    full = spark.createDataFrame(pd.concat([b1, b2]))
    batch_est = {
        r["event_type"]: r["est_distinct"]
        for r in sketch.ohll_estimate(
            sketch.ohll_merge(
                sketch.ohll_registers(full, ["event_type"], "user_id"),
                ["event_type"],
            ),
            ["event_type"],
        ).collect()
    }
    assert est == batch_est and set(est) == {"click", "error", "view"}


def test_streaming_kmeans_restart_exactly_once(spark):
    """Driver-held StreamingKMeans across a KILLED query (the marquee
    W6 gap the keyed-state operators don't cover: Structured Streaming
    checkpoints source offsets, NOT a driver-held model).  The model
    snapshots its O(k*dim) state per batch_id and align() rolls to
    the post-(batch_id-1) snapshot on entry, while the scored output
    flows through the idempotent per-batch-partition sink — so a
    restarted query (fresh model instance, same checkpoint) continues
    training from the committed state and the accumulated table is
    byte-identical to an uninterrupted run.  A re-delivered batch
    (crash between sink write and offset commit) rewrites its own
    partition with identical rows instead of appending duplicates."""
    import pandas as pd

    from pyspark.sql import functions as F

    from botkop_telcotraffic_spark_spark.operators.kmeans import StreamingKMeans
    from botkop_telcotraffic_spark_spark.registry.runner import idempotent_parquet_sink

    src = os.path.join(TMP, "skm_chaos_src")
    names = ["out", "ckpt", "state", "out_ref", "ckpt_ref", "state_ref"]
    dirs = {n: os.path.join(TMP, f"skm_chaos_{n}") for n in names}
    shutil.rmtree(src, ignore_errors=True)
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)

    b1 = pd.DataFrame(
        {"event_id": [1, 2, 3, 4],
         "point": [[0.0, 0.1], [0.2, 0.0], [10.0, 9.9], [9.8, 10.1]]}
    )
    b2 = pd.DataFrame(
        {"event_id": [5, 6, 7],
         "point": [[0.1, 0.2], [10.2, 10.0], [5.0, 5.0]]}
    )
    b1.to_parquet(os.path.join(src, "a.parquet"))
    schema = "event_id bigint, point array<double>"

    def run(model, out, ckpt, state, max_one_file=False):
        sink = idempotent_parquet_sink(out)

        def batch_fn(df, batch_id):
            model.align(state, batch_id)
            scored = model.update_and_assign(df)
            sink(scored.select("event_id", "prediction", "distance"),
                 batch_id)
            model.snapshot(state, batch_id)

        reader = spark.readStream.schema(schema)
        if max_one_file:
            reader = reader.option("maxFilesPerTrigger", "1")
        q = (
            reader.parquet(src)
            .writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def table(path):
        return sorted(
            (r["event_id"], r["prediction"], r["distance"], r["_batch_id"])
            for r in spark.read.parquet(path).collect()
        )

    mk = lambda: StreamingKMeans(k=2, dim=2, decay=1.0, seed=7)
    run(mk(), dirs["out"], dirs["ckpt"], dirs["state"])   # run 1, "killed"
    got1 = table(dirs["out"])
    assert {g[3] for g in got1} == {0}

    b2.to_parquet(os.path.join(src, "b.parquet"))
    # restart: FRESH model instance (new process), same checkpoint —
    # align() must restore batch-0 state from the snapshot
    m2 = mk()
    run(m2, dirs["out"], dirs["ckpt"], dirs["state"])
    got2 = table(dirs["out"])
    assert [g for g in got2 if g[3] == 0] == got1  # batch 0 untouched

    # uninterrupted reference over the same two files
    run(mk(), dirs["out_ref"], dirs["ckpt_ref"], dirs["state_ref"],
        max_one_file=True)
    assert got2 == table(dirs["out_ref"])

    # re-delivery: replay batch 1 against the SAME model instance (as
    # after a crash between sink write and offset commit) — align
    # rolls the model back, the partition is rewritten in place, the
    # table and the committed snapshot are byte-identical
    snap = open(os.path.join(dirs["state"], "b1.json")).read()
    replay = spark.read.schema(schema).parquet(os.path.join(src, "b.parquet"))
    sink = idempotent_parquet_sink(dirs["out"])
    m2.align(dirs["state"], 1)
    scored = m2.update_and_assign(replay)
    sink(scored.select("event_id", "prediction", "distance"), 1)
    m2.snapshot(dirs["state"], 1)
    assert table(dirs["out"]) == got2
    assert open(os.path.join(dirs["state"], "b1.json")).read() == snap


def test_idle_session_timer_survives_restart(spark):
    """Event-time timeouts across a KILLED query: run 1 opens two
    users' sessions (timeouts set, watermark not yet past last+gap —
    nothing emitted), the query stops, and a much-later event for a
    DIFFERENT user arrives.  The restarted query (same checkpoint)
    must fire the RESTORED timeouts — both sessions emitted exactly
    once, from checkpointed state+timeouts, with the final table
    byte-identical to an uninterrupted run."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.registry.tws import enable_large_state
    from botkop_telcotraffic_spark_spark.registry.tws import idle_sessions

    enable_large_state(spark)
    src = os.path.join(TMP, "idle_chaos_src")
    names = ["out", "ckpt", "out_ref", "ckpt_ref"]
    dirs = {n: os.path.join(TMP, f"idle_chaos_{n}") for n in names}
    shutil.rmtree(src, ignore_errors=True)
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def row(uid, sec, v):
        return {"user_id": uid, "ts": t0 + datetime.timedelta(seconds=sec),
                "value": v}

    a = pd.DataFrame([row(1, 0, 10.0), row(1, 30, 20.0),
                      row(2, 10, 5.0), row(2, 40, 7.0)])
    b = pd.DataFrame([row(99, 3600, 1.0)])  # watermark mover only
    a.to_parquet(os.path.join(src, "a.parquet"), coerce_timestamps="us")
    schema = spark.read.parquet(src).schema

    def q():
        return idle_sessions(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withWatermark("ts", "10 seconds"),
            gap="5 minutes",
        )

    _run_parquet_sink(q(), dirs["out"], dirs["ckpt"])  # run 1, "killed"
    assert spark.read.parquet(dirs["out"]).count() == 0  # nothing closed yet

    b.to_parquet(os.path.join(src, "b.parquet"), coerce_timestamps="us")
    _run_parquet_sink(q(), dirs["out"], dirs["ckpt"])  # restart
    got = sorted(
        (r["user_id"], r["n"], r["vsum"])
        for r in spark.read.parquet(dirs["out"]).collect()
    )
    # both run-1 sessions fired from RESTORED timeouts; u99 still open
    assert got == [(1, 2, 30.0), (2, 2, 12.0)]

    _run_parquet_sink(q(), dirs["out_ref"], dirs["ckpt_ref"])  # uninterrupted
    ref = sorted(
        (r["user_id"], r["n"], r["vsum"])
        for r in spark.read.parquet(dirs["out_ref"]).collect()
    )
    assert got == ref


def test_lastk_liststate_survives_restart(spark):
    """Array-valued keyed state across a KILLED query: the user's
    rolling last-k value history written in run 1 must be restored on
    restart so the post-restart event's features see the pre-restart
    values, and the accumulated table equals the uninterrupted run."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.registry.tws import enable_large_state
    from botkop_telcotraffic_spark_spark.registry.tws import (
        rolling_history_features,
    )

    enable_large_state(spark)
    src = os.path.join(TMP, "lastk_chaos_src")
    names = ["out", "ckpt", "out_ref", "ckpt_ref"]
    dirs = {n: os.path.join(TMP, f"lastk_chaos_{n}") for n in names}
    shutil.rmtree(src, ignore_errors=True)
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def row(eid, sec, v):
        return {"event_id": eid, "user_id": 1,
                "ts": t0 + datetime.timedelta(seconds=sec), "value": v}

    a = pd.DataFrame([row(1, 0, 10.0), row(2, 10, 20.0)])
    b = pd.DataFrame([row(3, 20, 30.0)])
    a.to_parquet(os.path.join(src, "a.parquet"), coerce_timestamps="us")
    schema = spark.read.parquet(src).schema

    def q():
        return rolling_history_features(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            k=3,
        )

    _run_parquet_sink(q(), dirs["out"], dirs["ckpt"])  # run 1, "killed"
    b.to_parquet(os.path.join(src, "b.parquet"), coerce_timestamps="us")
    _run_parquet_sink(q(), dirs["out"], dirs["ckpt"])  # restart

    got = sorted(
        (r["event_id"], r["n_prior"], r["mean_k"])
        for r in spark.read.parquet(dirs["out"]).collect()
    )
    # event 3's features come from the RESTORED [10, 20] history
    assert got == [(1, 0, None), (2, 1, 10.0), (3, 2, 15.0)]

    _run_parquet_sink(q(), dirs["out_ref"], dirs["ckpt_ref"])
    ref = sorted(
        (r["event_id"], r["n_prior"], r["mean_k"])
        for r in spark.read.parquet(dirs["out_ref"]).collect()
    )
    assert got == ref


def _run_foreach_sink(stream_df, sink, ckpt: str) -> None:
    """Run an update-mode stream through a foreachBatch sink
    (availableNow), reusing ``ckpt`` so a second call resumes."""
    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_mapstate_type_counts_survive_restart(spark):
    """Map-valued keyed state across a KILLED query: run 1 accumulates
    per-type counts, the restarted query (same
    checkpoint) continues from the RESTORED map — the post-restart
    emission is prior+new, and the accumulated foreachBatch table
    equals the uninterrupted run's."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.registry.tws import enable_large_state
    from botkop_telcotraffic_spark_spark.registry.runner import idempotent_parquet_sink
    from botkop_telcotraffic_spark_spark.registry.tws import (
        running_type_counts,
    )

    enable_large_state(spark)
    src = os.path.join(TMP, "tc_chaos_src")
    names = ["out", "ckpt", "out_ref", "ckpt_ref"]
    dirs = {n: os.path.join(TMP, f"tc_chaos_{n}") for n in names}
    shutil.rmtree(src, ignore_errors=True)
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    a = pd.DataFrame(
        {"user_id": [1, 1, 1], "event_type": ["view", "view", "click"]}
    )
    b = pd.DataFrame({"user_id": [1], "event_type": ["view"]})
    a.to_parquet(os.path.join(src, "a.parquet"))
    schema = spark.read.parquet(src).schema

    def q():
        return running_type_counts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    def table(path):
        return sorted(
            (r["_batch_id"], r["event_type"], r["n"])
            for r in spark.read.parquet(path).collect()
        )

    _run_foreach_sink(q(), idempotent_parquet_sink(dirs["out"]), dirs["ckpt"])
    assert table(dirs["out"]) == [(0, "click", 1), (0, "view", 2)]

    b.to_parquet(os.path.join(src, "b.parquet"))
    _run_foreach_sink(q(), idempotent_parquet_sink(dirs["out"]), dirs["ckpt"])
    got = table(dirs["out"])
    # post-restart emission continues from the RESTORED map: 2+1
    assert got == [(0, "click", 1), (0, "view", 2), (1, "view", 3)]

    _run_foreach_sink(
        q(), idempotent_parquet_sink(dirs["out_ref"]), dirs["ckpt_ref"]
    )
    assert got == table(dirs["out_ref"])


def test_ewma_valuestate_survives_restart(spark):
    """Running-EWMA keyed state across a KILLED query: the restarted
    query's emission continues the halving recurrence from the
    RESTORED (n, ewma) pair, matching an uninterrupted run."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.registry.tws import enable_large_state
    from botkop_telcotraffic_spark_spark.registry.runner import idempotent_parquet_sink
    from botkop_telcotraffic_spark_spark.registry.tws import running_ewma

    enable_large_state(spark)
    src = os.path.join(TMP, "ewma_chaos_src")
    names = ["out", "ckpt", "out_ref", "ckpt_ref"]
    dirs = {n: os.path.join(TMP, f"ewma_chaos_{n}") for n in names}
    shutil.rmtree(src, ignore_errors=True)
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def row(eid, sec, v):
        return {"event_id": eid, "user_id": 1,
                "ts": t0 + datetime.timedelta(seconds=sec), "value": v}

    a = pd.DataFrame([row(1, 0, 8.0), row(2, 10, 16.0)])   # ewma 12.0
    b = pd.DataFrame([row(3, 20, 4.0)])                    # (12+4)/2 = 8.0
    a.to_parquet(os.path.join(src, "a.parquet"), coerce_timestamps="us")
    schema = spark.read.parquet(src).schema

    def q():
        return running_ewma(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    def table(path):
        return sorted(
            (r["_batch_id"], r["n"], r["ewma"])
            for r in spark.read.parquet(path).collect()
        )

    _run_foreach_sink(q(), idempotent_parquet_sink(dirs["out"]), dirs["ckpt"])
    assert table(dirs["out"]) == [(0, 2, 12.0)]

    b.to_parquet(os.path.join(src, "b.parquet"), coerce_timestamps="us")
    _run_foreach_sink(q(), idempotent_parquet_sink(dirs["out"]), dirs["ckpt"])
    got = table(dirs["out"])
    # the restart continues from restored (2, 12.0): (12+4)/2 = 8.0
    assert got == [(0, 2, 12.0), (1, 3, 8.0)]

    _run_foreach_sink(
        q(), idempotent_parquet_sink(dirs["out_ref"]), dirs["ckpt_ref"]
    )
    assert got == table(dirs["out_ref"])


def test_watermark_protocol_matches_simulation(spark, tmp_path):
    """W7 protocol pin (round-10): the streaming_late_data_watermark
    ORACLE encodes Spark's watermark protocol; if a Spark upgrade
    shifts the semantics, the oracle would silently encode the wrong
    protocol.  The CALIBRATED 4.1 protocol, verified here against
    the real engine on adversarial boundary fixtures (and derived
    from a matrix of single-variable repros during round 10):

    - wm_k = max over file batches <= k of (floor(max_ts_us/1000) -
      delay_ms) * 1000 — event-time max truncates to MILLISECONDS
      before the delay subtraction; comparisons are in micros;
    - the LATE-ROW FILTER of batch b uses wm_{b-2}, one batch OLDER
      than the batch's reported watermark (the filter predicate is
      planned from the previous batch's offset-log entry), so a row
      whose window end lies in (wm_{b-2}, wm_{b-1}] gets a one-batch
      grace and still reaches state;
    - EVICTION/emission at batch b uses the current wm_{b-1}, and
      availableNow's final no-data batch flushes with wm_nb;
    - consequence: a post-emission late arrival can never pass the
      filter, so the append output has no duplicate (window, key)
      rows and equals {rows with end > wm_{b-2}} grouped by
      (window, key), restricted to end <= wm_nb.

    The fixture exercises: the one-batch grace (a late-looking row
    in batch 2 merging into still-live state), a genuinely dropped
    late row in batch 3, a sub-millisecond event-time tail, and a
    window withheld open at end-of-stream."""
    import glob
    import os
    import time as _time

    from pyspark.sql import functions as SF

    from botkop_telcotraffic_spark_spark.registry.runner import (
        run_to_memory,
    )

    delay_s = 30
    base = 1_700_000_100  # 30-aligned epoch seconds
    # (batch, user, epoch_micros)
    rows = [
        # batch 1: window W0=[base, base+30) for u1; the far-future
        # row pushes wm_1 way past W0's end (sub-ms tail: wm must be
        # ms-truncated or boundary comparisons drift)
        (1, 1, (base + 5) * 1_000_000),
        (1, 9, (base + 1000) * 1_000_000 + 123_456),
        # batch 2: end(W0)=base+30 <= wm_1=base+970.123 — late by the
        # reported watermark, but the filter lags one batch (wm_0 =
        # -inf), so it MERGES into W0's still-live state (n=2)
        (2, 1, (base + 11) * 1_000_000),
        # batch 3: same-looking row now meets filter wm_1 -> DROPPED
        # (numRowsDroppedByWatermark = 1); W0 emitted n=2, not 3,
        # and NOT twice
        (3, 1, (base + 22) * 1_000_000),
        # batch 3: fresh row whose window stays OPEN at end-of-stream
        (3, 2, (base + 2000) * 1_000_000),
    ]
    src = str(tmp_path / "wm_src")
    os.makedirs(src)
    tnow = _time.time()
    for b in sorted({r[0] for r in rows}):
        batch_rows = [(u, us) for bb, u, us in rows if bb == b]
        (spark.createDataFrame(batch_rows, "user_id bigint, us bigint")
         .select("user_id", SF.timestamp_micros("us").alias("ts"))
         .coalesce(1).write.mode("overwrite")
         .parquet(str(tmp_path / f"stage{b}")))
        part = glob.glob(str(tmp_path / f"stage{b}" / "part-*.parquet"))
        assert len(part) == 1
        dst = os.path.join(src, f"b{b}.parquet")
        os.rename(part[0], dst)
        os.utime(dst, (tnow + 10 * b, tnow + 10 * b))

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    agg = (
        stream.withWatermark("ts", f"{delay_s} seconds")
        .groupBy(SF.window("ts", "30 seconds").alias("w"), "user_id")
        .agg(SF.count(SF.lit(1)).alias("n"))
    )
    out = agg.select(
        SF.col("w.start").cast("long").alias("ws"), "user_id", "n"
    )
    got = sorted(
        (r["ws"], r["user_id"], r["n"])
        for r in run_to_memory(out, output_mode="append").collect()
    )

    # independent protocol simulation (micros; ms-truncated max)
    nb = max(r[0] for r in rows)
    wm = {0: -(10 ** 18), -1: -(10 ** 18)}
    for b in range(1, nb + 1):
        mx = max(us for bb, _, us in rows if bb == b)
        wm[b] = max(wm[b - 1], (mx // 1000 - delay_s * 1000) * 1000)
    contrib: dict = {}
    for b, u, us in rows:
        ws_us = (us // 30_000_000) * 30_000_000
        if ws_us + 30_000_000 > wm[b - 2]:   # late filter, lag one batch
            k = (ws_us // 1_000_000, u)
            contrib[k] = (contrib.get(k, (0, ws_us))[0] + 1, ws_us)
    sim = sorted(
        (ws, u, n)
        for (ws, u), (n, ws_us) in contrib.items()
        if ws_us + 30_000_000 <= wm[nb]      # emitted by the final flush
    )
    assert got == sim, f"engine {got} != sim {sim}"
    # pin the semantics explicitly (protects the sim itself from
    # accidentally degenerating):
    rel = sorted((ws - base, u, n) for ws, u, n in got)
    assert rel == [(0, 1, 2), (990, 9, 1)], rel


def test_geofence_hot_reload_boundary(spark):
    """S5 mid-stream side-input CHANGE (round-10 verdict #3 'Done'
    criterion): streaming_geofence_hot_reload rewrites fences.json
    from inside the foreachBatch callback at the batch-4 boundary, so
    the output must provably carry BOTH fence regimes — the dropped
    fence (ell) only before the reload, the added fence (band) only
    after, each on exactly the cells the ray-caster predicts."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    df = em.queries()["streaming_geofence_hot_reload"](spark, SF_DIR_001)
    rows = df.groupBy("fence").agg(
        F.min("b").alias("lo"),
        F.max("b").alias("hi"),
        F.collect_set("b").alias("bs"),
        F.collect_set("cell").alias("cells"),
    ).collect()
    by_fence = {r["fence"]: r for r in rows}
    # the dropped fence matched before the reload, never after
    assert set(by_fence) == {"ell", "band"}
    assert sorted(by_fence["ell"]["bs"]) == [1, 2, 3]
    assert sorted(by_fence["ell"]["cells"]) == ["c2"]
    # the added fence matched after the reload, never before
    assert sorted(by_fence["band"]["bs"]) == [4, 5]
    assert sorted(by_fence["band"]["cells"]) == ["c14", "c15", "c16"]


def test_incremental_dedup_restart_exactly_once(spark):
    """Exactly-once proof for the incremental-dedup batch core
    (registry/dedup_stream.py::incremental_dedup_batch): the dup
    join reads the ver <= batch_id store slice, so a re-delivered
    batch (crash between sink write and offset commit) does NOT see
    its own first run's bucket insertions — without that slice, every
    accepted doc would flip to is_dup on replay.  Also: a killed and
    restarted query (fresh checkpoint continuation over the same
    store) matches an uninterrupted run row for row."""
    import pandas as pd

    from pyspark.sql import functions as F

    from botkop_telcotraffic_spark_spark.registry.dedup_stream import (
        incremental_dedup_batch,
        minhash_bucket_keys,
    )
    from botkop_telcotraffic_spark_spark.registry.runner import idempotent_parquet_sink
    from botkop_telcotraffic_spark_spark.streaming.upsert_join import (
        KeyedUpsertStore,
    )

    src = os.path.join(TMP, "incded_chaos_src")
    names = ["out", "ckpt", "store", "out_ref", "ckpt_ref", "store_ref"]
    dirs = {n: os.path.join(TMP, f"incded_chaos_{n}") for n in names}
    shutil.rmtree(src, ignore_errors=True)
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)

    corpus_txt = "alpha beta gamma delta epsilon zeta eta theta"
    # batch 1: doc 10 near-dups the corpus; 11 is novel; 12 dups 11
    # only WITHIN the batch (batch-atomic semantics: both accepted)
    b1 = pd.DataFrame({
        "doc_id": [10, 11, 12],
        "text": [corpus_txt,
                 "one two three four five six seven eight nine",
                 "one two three four five six seven eight nine"],
    })
    # batch 2: doc 20 dups batch-1's accepted doc 11; 21 is novel
    b2 = pd.DataFrame({
        "doc_id": [20, 21],
        "text": ["one two three four five six seven eight nine",
                 "totally different words with no overlap at all here"],
    })
    b1.to_parquet(os.path.join(src, "a.parquet"))
    schema = "doc_id bigint, text string"

    corpus = spark.createDataFrame(
        [(1, corpus_txt)], schema
    )

    def mk_store(path):
        store = KeyedUpsertStore(spark, path, key_col="bk", order_col="ver")
        store.upsert(
            minhash_bucket_keys(corpus).select("bk").distinct()
            .withColumn("ver", F.lit(0))
        )
        return store

    def run(store, out, ckpt, max_one_file=False):
        # sink_dir mode — the production path (r13): the flags' sink
        # write is the pin; the legacy localCheckpoint+sink path is
        # crossed against it in the re-delivery step below.
        def batch_fn(df, batch_id):
            incremental_dedup_batch(df, store, batch_id, sink_dir=out)

        reader = spark.readStream.schema(schema)
        if max_one_file:
            reader = reader.option("maxFilesPerTrigger", "1")
        q = (
            reader.parquet(src)
            .writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def table(path):
        return sorted(
            (r["id"], r["is_dup"], r["_batch_id"])
            for r in spark.read.parquet(path).collect()
        )

    store = mk_store(dirs["store"])
    run(store, dirs["out"], dirs["ckpt"])      # run 1, then "killed"
    got1 = table(dirs["out"])
    assert got1 == [(10, True, 0), (11, False, 0), (12, False, 0)]

    b2.to_parquet(os.path.join(src, "b.parquet"))
    run(store, dirs["out"], dirs["ckpt"])      # restart, same store
    got2 = table(dirs["out"])
    assert [g for g in got2 if g[2] == 0] == got1
    assert [g for g in got2 if g[2] == 1] == [(20, True, 1), (21, False, 1)]

    # uninterrupted reference
    run(mk_store(dirs["store_ref"]), dirs["out_ref"], dirs["ckpt_ref"],
        max_one_file=True)
    assert got2 == table(dirs["out_ref"])

    # re-delivery: replay batch 1 against the SAME store (as after a
    # crash between sink write and offset commit).  Doc 21's buckets
    # are in the store with ver = 2 from the first run; the
    # ver <= batch_id slice hides them, so the flags — including
    # 21's is_dup = False — are byte-identical and the table is
    # rewritten in place unchanged.
    snap_before = sorted(
        (r["bk"], r["ver"])
        for r in store.snapshot().collect()
    )
    # ...driven through the LEGACY (localCheckpoint + separate sink)
    # path, so the re-delivered table equality also proves the two
    # pin modes byte-identical on the same store state.
    replay = spark.read.schema(schema).parquet(os.path.join(src, "b.parquet"))
    sink = idempotent_parquet_sink(dirs["out"])
    sink(incremental_dedup_batch(replay, store, 1), 1)
    assert table(dirs["out"]) == got2
    snap_after = sorted(
        (r["bk"], r["ver"])
        for r in store.snapshot().collect()
    )
    assert snap_after == snap_before


def test_streaming_ivf_restart_exactly_once(spark):
    """Exactly-once proof for incremental IVF maintenance
    (registry/ivf_stream.py::ivf_assign_batch), the 31f69fd chaos
    discipline applied to centroid cells: stats read the
    ``ver <= batch_id + 1`` store slice, so a RE-DELIVERED batch
    (crash between sink write and offset commit) does not see later
    batches' insertions and recomputes byte-identical per-cell stats;
    a killed-and-restarted query over the same store matches an
    uninterrupted run row for row; and the re-delivered upsert is a
    value-level no-op on the store."""
    import pandas as pd

    from pyspark.sql import functions as F

    from botkop_telcotraffic_spark_spark.operators.kmeans_batch import (
        label_centroids,
    )
    from botkop_telcotraffic_spark_spark.registry.ivf_stream import (
        ivf_assign_batch,
        ivf_assignments,
    )
    from botkop_telcotraffic_spark_spark.registry.runner import idempotent_parquet_sink
    from botkop_telcotraffic_spark_spark.streaming.upsert_join import (
        KeyedUpsertStore,
    )

    src = os.path.join(TMP, "ivf_chaos_src")
    names = ["out", "ckpt", "store", "out_ref", "ckpt_ref", "store_ref"]
    dirs = {n: os.path.join(TMP, f"ivf_chaos_{n}") for n in names}
    shutil.rmtree(src, ignore_errors=True)
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)

    seed = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [0.9, 0.1, 0.0, 0.0], 0),
            (3, [0.0, 0.0, 1.0, 0.0], 1),
            (4, [0.0, 0.1, 0.9, 0.0], 1),
        ],
        "vec_id bigint, embedding array<double>, label int",
    )
    cents = label_centroids(seed, round_digits=9).localCheckpoint()

    # batch 1: one arrival per cell; batch 2: two more into cell 1
    b1 = pd.DataFrame(
        {"vec_id": [10, 11],
         "embedding": [[0.95, 0.0, 0.05, 0.0], [0.05, 0.0, 0.95, 0.0]]}
    )
    b2 = pd.DataFrame(
        {"vec_id": [20, 21],
         "embedding": [[0.0, 0.2, 0.8, 0.0], [0.1, 0.0, 0.9, 0.1]]}
    )
    b1.to_parquet(os.path.join(src, "a.parquet"))
    schema = "vec_id bigint, embedding array<double>"

    def mk_store(path):
        store = KeyedUpsertStore(
            spark, path, key_col="vec_id", order_col="ver"
        )
        store.upsert(
            ivf_assignments(seed, cents).withColumn("ver", F.lit(0))
        )
        return store

    def run(store, out, ckpt, max_one_file=False):
        sink = idempotent_parquet_sink(out)

        def batch_fn(df, batch_id):
            # sink-mode (one store read per batch) — the entry's
            # calling convention; the re-delivery at the bottom uses
            # the no-sink read-back path, so the final equality also
            # proves the two paths emit identical stats
            ivf_assign_batch(
                df, store, cents, batch_id,
                sink=lambda s: sink(s, batch_id),
            )

        reader = spark.readStream.schema(schema)
        if max_one_file:
            reader = reader.option("maxFilesPerTrigger", "1")
        q = (
            reader.parquet(src)
            .writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def table(path):
        return sorted(
            (r["cell"], r["n_batch"], r["n_index"], r["_batch_id"])
            for r in spark.read.parquet(path).collect()
        )

    store = mk_store(dirs["store"])
    run(store, dirs["out"], dirs["ckpt"])      # run 1, then "killed"
    got1 = table(dirs["out"])
    # seed indexed 2 per cell at ver 0; batch 0 adds one to each
    assert got1 == [(0, 1, 3, 0), (1, 1, 3, 0)]

    b2.to_parquet(os.path.join(src, "b.parquet"))
    run(store, dirs["out"], dirs["ckpt"])      # restart, same store
    got2 = table(dirs["out"])
    assert [g for g in got2 if g[3] == 0] == got1
    assert [g for g in got2 if g[3] == 1] == [(0, 0, 3, 1), (1, 2, 5, 1)]

    # uninterrupted reference
    run(mk_store(dirs["store_ref"]), dirs["out_ref"], dirs["ckpt_ref"],
        max_one_file=True)
    assert got2 == table(dirs["out_ref"])

    # re-delivery of batch 0 against the SAME store: vectors 20/21
    # sit in the store at ver 2, but the ver <= 1 slice hides them —
    # stats (including n_index = 3 per cell) are byte-identical and
    # the store is value-identical after the replayed upsert
    snap_before = sorted(
        (r["vec_id"], r["cell"], r["ver"])
        for r in store.snapshot().collect()
    )
    replay = spark.read.schema(schema).parquet(os.path.join(src, "a.parquet"))
    sink = idempotent_parquet_sink(dirs["out"])
    sink(ivf_assign_batch(replay, store, cents, 0), 0)
    assert table(dirs["out"]) == got2
    snap_after = sorted(
        (r["vec_id"], r["cell"], r["ver"])
        for r in store.snapshot().collect()
    )
    assert snap_after == snap_before
