"""The production entry point against the streaming benchmark's oracle.

``TrafficPipeline.run`` drains a small seeded backlog from
``perfbench/gen.py`` (one file per trigger) into per-topic text sinks
laid out like the benchmark's, and every batch's read-back must match
the generator's Spark-free counts, judged by ``perfbench/run.py``'s own
``observed``/``mismatches``.

- ``attach_churn`` puts the attaches of its new bearers in the same
  file as their celltower events, so its counts hold only if each
  batch's upsert runs before that batch's enrichment.
- ``ref_sliding`` has no attach lines: every batch takes the
  empty-upsert path.

A crash inside a batch, followed by a restart of a new pipeline (or of
the crashed one) on the same store and checkpoint, must leave every
topic byte-identical to a run with no crash.

The benchmark's modules are imported read-only, by file path.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from botkop_telcotraffic_spark_spark.schemas import ATTACH_EVENT
from botkop_telcotraffic_spark_spark.streaming import payloads
from botkop_telcotraffic_spark_spark.streaming.json_stream import decode_json_stream
from botkop_telcotraffic_spark_spark.streaming.pipeline import (
    TrafficPipeline,
    read_geofences,
)
from botkop_telcotraffic_spark_spark.streaming.upsert_join import KeyedUpsertStore
from tests.conftest import REPO

BATCHES = 3
SCALE = 0.04  # the benchmark smoke test's scale: about 200 events per batch


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(REPO, "perfbench", "run.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load_bench()
gen = bench.gen


def _seeded_store(spark, path, inputs):
    """The benchmark's seed step: one upsert of the decoded seed lines."""
    store = KeyedUpsertStore(spark, path, key_col="bearerId", order_col="ts")
    seed = spark.read.text(os.path.join(inputs, "seed.jsonl"))
    store.upsert(decode_json_stream(seed, ATTACH_EVENT))
    return store


def _pipeline(spark, inputs, sinks, profile):
    """The four topics written to per-batch text sinks, each batch
    overwriting its own directory (so a replayed batch rewrites it)."""
    fences_path = os.path.join(inputs, "fences.json")
    fences = read_geofences(spark, fences_path)

    def sink(topic, payload):
        def write(df, batch_id):
            payload(df).write.mode("overwrite").text(
                os.path.join(sinks, topic, f"b{batch_id:05d}")
            )

        return write

    return TrafficPipeline(
        metric_names=list(gen.METRICS),
        kmeans_dims=list(gen.KMEANS_DIMS),
        geofence_path=fences_path,
        k=3,
        decay=1.0,
        window="30 seconds",
        slide=f"{profile.slide_ms // 1000} seconds" if profile.slide_ms else None,
        stats_sink=sink(
            "celltower_stats", lambda df: payloads.metric_stats_payload(df, "celltower")
        ),
        subscriber_stats_sink=sink(
            "subscriber_stats", lambda df: payloads.metric_stats_payload(df, "subscriber")
        ),
        geofence_sink=sink("geofence", lambda df: payloads.geofence_payload(df, fences)),
        outlier_sink=sink("kmeans_points", payloads.cluster_points_payload),
        publish_all_points=True,
    )


def _lines(spark, inputs):
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(os.path.join(inputs, "backlog"))
    )


@pytest.mark.parametrize("workload", ["ref_sliding", "attach_churn"])
def test_run_matches_benchmark_oracle(spark, tmp_path, workload):
    inputs = str(tmp_path / "inputs")
    exp = gen.generate(workload, 7, inputs, BATCHES, SCALE)
    profile = gen.Profile(**exp["profile"])

    store = _seeded_store(spark, str(tmp_path / "store"), inputs)
    sinks = str(tmp_path / "sinks")
    pipe = _pipeline(spark, inputs, sinks, profile)
    pipe.run(_lines(spark, inputs), store, checkpoint=str(tmp_path / "checkpoint"))

    for topic in gen.TOPICS:
        assert sorted(os.listdir(os.path.join(sinks, topic))) == [
            f"b{b:05d}" for b in range(BATCHES)
        ]
    for b, want in enumerate(exp["batches"]):
        assert bench.mismatches(bench.observed(sinks, b), want) == [], f"batch {b}"


class _InjectedCrash(RuntimeError):
    pass


def _crash_after(obj, name, batch):
    """Make ``obj.<name>`` raise once, right after its call for micro-batch
    ``batch`` has returned (one call per batch, counted from batch 0)."""
    real, calls = getattr(obj, name), []

    def wrapped(*args, **kwargs):
        out = real(*args, **kwargs)
        calls.append(None)
        if len(calls) == batch + 1:
            raise _InjectedCrash(f"injected crash after {name} of batch {batch}")
        return out

    setattr(obj, name, wrapped)


@pytest.mark.parametrize("same_pipe", [False, True])
@pytest.mark.parametrize("crash_after", ["upsert", "geofence_sink", "process_batch"])
def test_run_restart_is_byte_identical(spark, tmp_path, crash_after, same_pipe):
    """Kill the query inside batch 1, after the store upsert, between the
    sink writes (both stats topics written, the K-Means topic not), or
    after the fan-out (before the offset commit), then restart on the same
    store and checkpoint: every topic matches a run with no crash, byte for
    byte.  The restart builds a new store object and either a NEW pipeline
    or, with ``same_pipe``, calls ``run`` again on the crashed one.  The
    replayed batch re-upserts the same attaches (a latest-wins no-op on the
    values) and retrains the K-Means model from its state after batch 0,
    never from a fresh model nor on top of the crashed batch's update."""
    inputs = str(tmp_path / "inputs")
    exp = gen.generate("attach_churn", 7, inputs, BATCHES, SCALE)
    profile = gen.Profile(**exp["profile"])

    def drain(root, crash):
        store = _seeded_store(spark, str(root / "store"), inputs)
        pipe = _pipeline(spark, inputs, str(root / "sinks"), profile)
        ckpt = str(root / "checkpoint")
        if crash:
            _crash_after(store if crash_after == "upsert" else pipe, crash_after, 1)
            with pytest.raises(Exception, match="injected crash"):
                pipe.run(_lines(spark, inputs), store, checkpoint=ckpt)
            store = KeyedUpsertStore(
                spark, str(root / "store"), key_col="bearerId", order_col="ts"
            )
            if not same_pipe:
                pipe = _pipeline(spark, inputs, str(root / "sinks"), profile)
        pipe.run(_lines(spark, inputs), store, checkpoint=ckpt)
        return str(root / "sinks")

    clean = drain(tmp_path / "clean", crash=False)
    crashed = drain(tmp_path / "crashed", crash=True)
    for topic in gen.TOPICS:
        assert sorted(os.listdir(os.path.join(crashed, topic))) == [
            f"b{b:05d}" for b in range(BATCHES)
        ]
        for b in range(BATCHES):
            assert bench.read_topic(crashed, topic, b) == bench.read_topic(
                clean, topic, b
            ), f"{topic} batch {b}"
