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


@pytest.mark.parametrize("workload", ["ref_sliding", "attach_churn"])
def test_run_matches_benchmark_oracle(spark, tmp_path, workload):
    inputs = str(tmp_path / "inputs")
    exp = gen.generate(workload, 7, inputs, BATCHES, SCALE)
    profile = gen.Profile(**exp["profile"])

    # the benchmark's seed step: one upsert of the decoded seed lines
    store = KeyedUpsertStore(
        spark, str(tmp_path / "store"), key_col="bearerId", order_col="ts"
    )
    seed = spark.read.text(os.path.join(inputs, "seed.jsonl"))
    store.upsert(decode_json_stream(seed, ATTACH_EVENT))

    sinks = str(tmp_path / "sinks")
    fences_path = os.path.join(inputs, "fences.json")
    fences = read_geofences(spark, fences_path)

    def sink(topic, payload):
        def write(df, batch_id):
            payload(df).write.mode("overwrite").text(
                os.path.join(sinks, topic, f"b{batch_id:05d}")
            )

        return write

    pipe = TrafficPipeline(
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
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(os.path.join(inputs, "backlog"))
    )
    pipe.run(lines, store, checkpoint=str(tmp_path / "checkpoint"))

    for topic in gen.TOPICS:
        assert sorted(os.listdir(os.path.join(sinks, topic))) == [
            f"b{b:05d}" for b in range(BATCHES)
        ]
    for b, want in enumerate(exp["batches"]):
        assert bench.mismatches(bench.observed(sinks, b), want) == [], f"batch {b}"
