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

Beyond the counts, every stats message's values are checked against a
pure-Python model recomputed from the generated seed and backlog
lines: per (window, key), ``count`` exactly and mean/stdev
(population)/max/min within 1e-6 absolute, the ``%f`` print
precision.  Every published K-Means point's ``distance`` must be the
Euclidean distance from its ``point`` to its ``centroid``, and its
``outlier`` flag must follow its cluster's IQR fences, recomputed from
the message's own distances.  The
geofence containment test must agree with the generator's ray cast
point for point, on edges and vertices too.

A crash inside a batch, followed by a restart of a new pipeline (or of
the crashed one) on the same store and checkpoint, must leave every
topic byte-identical to a run with no crash.

The benchmark's modules are imported read-only, by file path.
"""

from __future__ import annotations

import importlib.util
import json
import math
import os
import sys

import pytest

from botkop_telcotraffic_spark_spark.operators.geofence import polygon_geofence_join
from botkop_telcotraffic_spark_spark.schemas import ATTACH_EVENT, CELLTOWER_EVENT
from botkop_telcotraffic_spark_spark.streaming import payloads
from botkop_telcotraffic_spark_spark.streaming.json_stream import decode_json_stream
from botkop_telcotraffic_spark_spark.streaming.pipeline import (
    TrafficPipeline,
    read_geofences,
)
from botkop_telcotraffic_spark_spark.streaming.upsert_join import KeyedUpsertStore
from tests.conftest import REPO
from tests.telco_fixtures import GEOFENCES

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
    for b, model in enumerate(_stats_model(inputs, BATCHES, profile.slide_ms)):
        for topic, entity in (
            ("celltower_stats", "celltower"), ("subscriber_stats", "subscriber"),
        ):
            assert _stats_mismatches(sinks, topic, entity, b, model[entity]) == [], (
                f"{topic} batch {b}"
            )
        assert _distance_mismatches(sinks, b) == [], f"kmeans_points batch {b}"
        assert _outlier_flag_mismatches(sinks, b) == [], f"kmeans_points batch {b}"


@pytest.mark.parametrize("fence_set", ["fixture", "ref_sliding", "geofence_dense"])
def test_geofence_hits_match_generator(spark, tmp_path, fence_set):
    """The benchmark counts geofence hits with ``gen.contains``, so
    ``polygon_geofence_join`` must give the same hits on every point,
    also on an edge or a vertex, where only the same literals and the
    same operation order keep the two bit-identical.  Points: a grid
    over the fences' bounding box, every vertex, every edge midpoint,
    and a row of points level with each vertex (a ray through it)."""
    if fence_set == "fixture":
        path = str(tmp_path / "fences.json")
        with open(path, "w") as fh:
            json.dump(GEOFENCES, fh)
    else:
        gen.generate(fence_set, 1, str(tmp_path), 1, SCALE)
        path = str(tmp_path / "fences.json")
    fences = [(name, poly) for name, _, poly in read_geofences(spark, path)]

    lats = [lat for _, poly in fences for lat, _ in poly]
    lngs = [lng for _, poly in fences for _, lng in poly]
    lat0, lat1 = min(lats) - 0.1, max(lats) + 0.1
    lng0, lng1 = min(lngs) - 0.1, max(lngs) + 0.1
    steps = 40
    grid_lngs = [lng0 + (lng1 - lng0) * j / steps for j in range(steps + 1)]
    points = {
        (lat0 + (lat1 - lat0) * i / steps, lng)
        for i in range(steps + 1) for lng in grid_lngs
    }
    for _, poly in fences:
        for k, (lat, lng) in enumerate(poly):
            nlat, nlng = poly[(k + 1) % len(poly)]
            points.add((lat, lng))
            points.add(((lat + nlat) / 2, (lng + nlng) / 2))
            points.update((lat, x) for x in grid_lngs)
    points = sorted(points)

    df = spark.createDataFrame(
        [(i, lat, lng) for i, (lat, lng) in enumerate(points)],
        "id INT, lat DOUBLE, lng DOUBLE",
    )
    got = sorted(
        (r["id"], r["name"])
        for r in polygon_geofence_join(df, fences).select("id", "name").collect()
    )
    want = sorted(
        (i, name)
        for i, (lat, lng) in enumerate(points)
        for name, poly in fences
        if gen.contains(lng, lat, [(x, y) for y, x in poly])
    )
    assert len(want) > 50
    assert got == want


# --- value-level model ---------------------------------------------------

STAT_TOL = 1e-6  # the payload prints floats with Java's %f: 6 decimals


def _decoded(line, schema):
    """The record ``decode_json_stream`` keeps for ``line``, else None:
    a JSON object with every top-level field of ``schema`` non-null."""
    try:
        rec = json.loads(line)
    except ValueError:
        return None
    if not isinstance(rec, dict) or any(rec.get(f.name) is None for f in schema.fields):
        return None
    return rec


def _key(obj) -> str:
    return json.dumps(obj, sort_keys=True)


def _stat(values):
    n = len(values)
    mean = math.fsum(values) / n
    return {
        "count": n,
        "mean": mean,
        "stdev": math.sqrt(math.fsum((v - mean) ** 2 for v in values) / n),
        "max": max(values),
        "min": min(values),
    }


def _stats_model(inputs, batches, slide_ms):
    """Per batch, ``{entity: {key: [stats of one window, ...]}}`` from the
    raw lines: the seed and each batch's attaches fill a latest-wins
    bearer store before that batch's celltower events join it, and
    every joined event lands in each 30 s window holding its ts."""
    store = {}

    def upsert(lines):
        for line in lines:
            a = _decoded(line, ATTACH_EVENT)
            if a is not None and (
                a["bearerId"] not in store or a["ts"] > store[a["bearerId"]]["ts"]
            ):
                store[a["bearerId"]] = a

    def read(path):
        with open(path) as fh:
            return fh.read().splitlines()

    upsert(read(os.path.join(inputs, "seed.jsonl")))
    out = []
    for b in range(batches):
        lines = read(os.path.join(inputs, "backlog", f"b{b:05d}.jsonl"))
        upsert(lines)
        groups = {"celltower": {}, "subscriber": {}}
        for line in lines:
            e = _decoded(line, CELLTOWER_EVENT)
            if e is None or e["bearerId"] not in store:
                continue
            keys = {
                "celltower": _key(e["celltower"]),
                "subscriber": _key(store[e["bearerId"]]["subscriber"]),
            }
            for start in gen.window_starts(e["ts"], slide_ms):
                for entity, key in keys.items():
                    per_metric = groups[entity].setdefault((key, start), {})
                    for m in gen.METRICS:
                        if e["metrics"].get(m) is not None:
                            per_metric.setdefault(m, []).append(e["metrics"][m])
        out.append({
            entity: _by_key({
                k: {m: _stat(vs) for m, vs in per_metric.items()}
                for k, per_metric in g.items()
            })
            for entity, g in groups.items()
        })
    return out


def _by_key(windows):
    by = {}
    for (key, _), stats in windows.items():
        by.setdefault(key, []).append(stats)
    return by


def _close(got, want) -> bool:
    return got.keys() == want.keys() and all(
        got[m]["count"] == want[m]["count"]
        and all(abs(got[m][f] - want[m][f]) <= STAT_TOL for f in ("mean", "stdev", "max", "min"))
        for m in want
    )


def _stats_mismatches(sinks, topic, entity, batch, model):
    """Messages carry no window, so each key's messages must pair off
    one to one with the model's windows for that key."""
    left = {k: list(v) for k, v in model.items()}
    bad = []
    for line in bench.read_topic(sinks, topic, batch).decode().splitlines():
        msg = json.loads(line)
        cands = left.get(_key(msg[entity]), [])
        hit = next((i for i, want in enumerate(cands) if _close(msg["stats"], want)), None)
        if hit is None:
            bad.append(f"no model window for {line}")
        else:
            cands.pop(hit)
    bad += [f"{k}: {len(v)} model windows unpublished" for k, v in left.items() if v]
    return bad


def _distance_mismatches(sinks, batch):
    (line,) = bench.read_topic(sinks, "kmeans_points", batch).decode().splitlines()
    bad = []
    for p in json.loads(line)["points"]:
        want = math.sqrt(sum((x - c) ** 2 for x, c in zip(p["point"], p["centroid"])))
        if not math.isclose(p["distance"], want, rel_tol=1e-9):
            bad.append(f"distance {p['distance']} != {want} for {p}")
    return bad


def _iqr_fences(distances):
    """The reference's fences over one cluster's distances
    (``ClusterAnalyser.scala:47-58,157-170``): q1 = sorted[n // 4] and
    q3 = sorted[3n // 4] 0-based, 1.5 IQR beyond them, and Scala's
    Double.MinValue/MaxValue at n <= 4."""
    n = len(distances)
    if n <= 4:
        return -sys.float_info.max, sys.float_info.max
    v = sorted(distances)
    q1, q3 = v[n // 4], v[3 * n // 4]
    return q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)


def _outlier_flag_mismatches(sinks, batch):
    """Every point's ``outlier`` flag against its cluster's fences,
    recomputed from the message's own (prediction, distance) pairs."""
    (line,) = bench.read_topic(sinks, "kmeans_points", batch).decode().splitlines()
    points = json.loads(line)["points"]
    by_cluster = {}
    for p in points:
        by_cluster.setdefault(p["prediction"], []).append(p["distance"])
    fences = {c: _iqr_fences(ds) for c, ds in by_cluster.items()}
    bad = []
    for p in points:
        lo, hi = fences[p["prediction"]]
        if p["outlier"] != (p["distance"] < lo or p["distance"] > hi):
            bad.append(f"outlier {p['outlier']} outside fences ({lo}, {hi}) for {p}")
    return bad


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
    """Kill the query inside batch 1, after the store upsert, in the
    geofence sink (its topic written, then an error; the other three
    writes run concurrently and finish before the error ends the batch),
    or after the fan-out (before the offset commit), then restart on the same
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
