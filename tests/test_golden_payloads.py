"""Reference e2e golden test (round-5 brief #6): one availableNow
replay of the full TrafficPipeline over the deterministic telco
fixtures, asserting the emitted JSON payloads for ALL FOUR reference
topics byte-match checked-in goldens:

- celltower metric stats   (MetricStatsProducer.scala:40-58)
- subscriber metric stats  (MetricStatsProducer.scala:17-36)
- geofence matches         (Geofencer.scala:33-37)
- K-Means outlier points   (ClusterAnalyser.scala:62-65, one
  points-array message per batch)

These are the reference's message values, built by
``streaming/payloads.py``.  Nothing here goes through a Kafka broker:
a Kafka egress of these exact bytes would be a foreachBatch write of
the ``value`` column as is.

Regenerate after an INTENTIONAL shape change with
``UPDATE_GOLDENS=1 python -m pytest tests/test_golden_payloads.py``
and review the diff — an unreviewed golden update defeats the test.
"""

from __future__ import annotations

import os
import shutil

import pytest

from botkop_telcotraffic_spark_spark.streaming.payloads import (
    cluster_points_payload,
    geofence_payload,
    metric_stats_payload,
)
from botkop_telcotraffic_spark_spark.streaming.pipeline import (
    TrafficPipeline,
    read_geofences,
)
from botkop_telcotraffic_spark_spark.streaming.upsert_join import KeyedUpsertStore
from tests.conftest import REPO
from tests.telco_fixtures import fixture_lines, write_fixtures

TMP = os.path.join(REPO, ".tmp", "golden")
GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "goldens")
TOPICS = ["celltower_stats", "subscriber_stats", "geofence", "kmeans_outliers"]


@pytest.fixture(scope="module")
def payloads(spark):
    """Run the 4-topic pipeline once; return {topic: sorted payload
    strings}."""
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP, exist_ok=True)
    fx = write_fixtures(os.path.join(TMP, "fixtures"))

    store = KeyedUpsertStore(
        spark,
        os.path.join(TMP, "attach_store"),
        key_col="bearerId",
        order_col="ts",
    )

    out: dict[str, list[str]] = {t: [] for t in TOPICS}
    fences = {}  # filled lazily inside the batch (needs the session)

    def cell_stats_sink(df, bid):
        out["celltower_stats"].extend(
            r["value"] for r in metric_stats_payload(df, "celltower").collect()
        )

    def sub_stats_sink(df, bid):
        out["subscriber_stats"].extend(
            r["value"]
            for r in metric_stats_payload(df, "subscriber").collect()
        )

    def geo_sink(df, bid):
        f = read_geofences(df.sparkSession, fx["geo_path"])
        out["geofence"].extend(
            r["value"] for r in geofence_payload(df, f).collect()
        )

    def outlier_sink(df, bid):
        out["kmeans_outliers"].extend(
            r["value"] for r in cluster_points_payload(df).collect()
        )

    pipe = TrafficPipeline(
        metric_names=["rtt", "byteLoss", "jitter"],
        kmeans_dims=["rtt", "byteLoss"],
        geofence_path=fx["geo_path"],
        stats_sink=cell_stats_sink,
        subscriber_stats_sink=sub_stats_sink,
        geofence_sink=geo_sink,
        outlier_sink=outlier_sink,
    )
    # one query over both topics' lines; under availableNow the union
    # of the two fixture files arrives as a single micro-batch
    pipe.run(fixture_lines(spark, fx), store, checkpoint=os.path.join(TMP, "ckpt"))
    return {t: sorted(v) for t, v in out.items()}


@pytest.mark.parametrize("topic", TOPICS)
def test_payloads_match_golden(payloads, topic):
    path = os.path.join(GOLDEN_DIR, f"{topic}.jsonl")
    got = payloads[topic]
    assert got, f"{topic}: pipeline emitted no payloads"
    if os.environ.get("UPDATE_GOLDENS"):
        os.makedirs(GOLDEN_DIR, exist_ok=True)
        with open(path, "w") as fh:
            fh.write("\n".join(got) + "\n")
    with open(path) as fh:
        want = fh.read().splitlines()
    assert got == want, (
        f"{topic}: {len(got)} payloads vs {len(want)} golden; "
        f"first diff: "
        f"{next(((a, b) for a, b in zip(got, want) if a != b), (None, None))}"
    )


def test_payload_shapes_are_reference_exact(payloads):
    """Spot-assert the hand-built reference byte shapes (spacing
    included) independently of the golden files."""
    s = payloads["celltower_stats"][0]
    assert s.startswith('{ "celltower":{"mcc":')
    assert ', "stats":{ "' in s
    assert '"count":' in s and '"stdev":' in s
    sub = payloads["subscriber_stats"][0]
    assert sub.startswith('{ "subscriber":{"id":')
    g = payloads["geofence"][0]
    assert g.startswith('{ "subscriber": {"id":')
    assert ', "celltower": {"mcc":' in g
    assert ', "geofence": {"name":' in g
    k = payloads["kmeans_outliers"][0]
    assert k.startswith('{ "points":  [')
    assert '"prediction":' in k and '"outlier":' in k


def test_points_payload_flags_outliers_by_cluster_fences(spark):
    """The points message's ``outlier`` flags over a hand-built batch,
    against the reference's fences (``ClusterAnalyser.scala:157-170``).

    - Cluster 0 holds 3 points, so it has no fence: its far point at
      100.0 is not flagged.
    - Cluster 1 holds 9 points, sorted [1, 10, 10, 10, 11, 12, 12, 15,
      40].  q1 = sorted[2] = 10 is a tie of three values, and
      q3 = sorted[6] = 12, so the fences are 7 and 15.  1 lies below
      them and 40 above; 15 sits on the upper fence and is not
      flagged.

    Points come in (subscriber.id, celltower.cell) order, and each is
    rendered in the reference's byte shape."""
    c0 = [100.0, 0.0, 5.0]
    c1 = [12.0, 1.0, 10.0, 40.0, 10.0, 11.0, 15.0, 10.0, 12.0]
    rows = [((i,), (i % 2,), [d, 0.5], 0, [0.0, 0.5], d) for i, d in enumerate(c0)]
    rows += [((10 + i,), (7,), [d, 0.5], 1, [0.0, 0.5], d) for i, d in enumerate(c1)]
    df = spark.createDataFrame(
        list(reversed(rows)),
        "subscriber struct<id:int>, celltower struct<cell:int>, point array<double>,"
        " prediction int, centroid array<double>, distance double",
    )
    (msg,) = [r["value"] for r in cluster_points_payload(df).collect()]
    flagged = {1.0, 40.0}
    want = [
        '{  "subscriber": {"id":%d} ,  "celltower": {"cell":%d} ,  "point": [%r,0.5] ,'
        '  "prediction": %d ,  "centroid": [0.0,0.5] ,  "distance": %r ,'
        '  "outlier": %s  }'
        % (sid[0], cell[0], d, p, d, str(p == 1 and d in flagged).lower())
        for sid, cell, _, p, _, d in rows
    ]
    assert msg == '{ "points":  [' + ",".join(want) + "] }"
