"""Operator unit tests on tiny in-memory DataFrames (SURVEY.md §5.1)
plus property-style checks against independent pure-python models."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from botkop_telcotraffic_spark_spark.functions.vector import cosine, dot, euclidean
from botkop_telcotraffic_spark_spark.operators.iqr import iqr_bounds, iqr_outliers
from botkop_telcotraffic_spark_spark.operators.kmeans import StreamingKMeans, assign
from botkop_telcotraffic_spark_spark.operators.window_stats import keyed_stats
from botkop_telcotraffic_spark_spark.streaming.upsert_join import latest_per_key


def test_keyed_stats_matches_python(spark):
    rng = random.Random(1)
    data = [(k, rng.uniform(0, 100)) for k in ("a", "b") for _ in range(50)]
    df = spark.createDataFrame(data, "k string, v double")
    out = {r["k"]: r for r in keyed_stats(df, ["k"], "v").collect()}
    for k in ("a", "b"):
        vals = [v for kk, v in data if kk == k]
        mean = sum(vals) / len(vals)
        pvar = sum((x - mean) ** 2 for x in vals) / len(vals)
        assert out[k]["n"] == len(vals)
        assert out[k]["mean"] == pytest.approx(mean)
        # StatCounter parity: POPULATION stdev (MetricStats.scala)
        assert out[k]["stdev"] == pytest.approx(math.sqrt(pvar))
        assert out[k]["vmax"] == max(vals) and out[k]["vmin"] == min(vals)


def _py_iqr(vals):
    """Reference ClusterAnalyser.scala:157-170 exactly."""
    v = sorted(vals)
    n = len(v)
    if n <= 4:
        return (-1.7976931348623157e308, 1.7976931348623157e308)
    q1, q3 = v[n // 4], v[3 * n // 4]
    iqr = q3 - q1
    return (q1 - 1.5 * iqr, q3 + 1.5 * iqr)


@pytest.mark.parametrize("n", [3, 5, 40, 101])
def test_iqr_exact_matches_reference_semantics(spark, n):
    rng = random.Random(n)
    vals = [rng.gauss(50, 10) for _ in range(n)] + [500.0, -500.0]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    lo, hi = _py_iqr(vals)
    row = iqr_bounds(df, ["g"], "v", mode="exact").collect()[0]
    assert (row["lo"], row["hi"]) == (lo, hi)
    outliers = sorted(r["v"] for r in iqr_outliers(df, ["g"], "v").collect())
    assert outliers == sorted(v for v in vals if v < lo or v > hi)


def test_iqr_approx_close_to_exact(spark):
    rng = random.Random(9)
    vals = [rng.gauss(0, 1) for _ in range(5000)]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    ex = iqr_bounds(df, ["g"], "v", mode="exact").collect()[0]
    ap = iqr_bounds(df, ["g"], "v", mode="approx").collect()[0]
    assert ap["q1"] == pytest.approx(ex["q1"], abs=0.05)
    assert ap["q3"] == pytest.approx(ex["q3"], abs=0.05)


def test_latest_per_key_tiebreak(spark):
    df = spark.createDataFrame(
        [("k", 1, "old"), ("k", 2, "mid"), ("k", 2, "new")],
        "id string, ts int, payload string",
    )
    # tie on ts=2 broken by payload (second order col)
    row = latest_per_key(df, ["id"], ["ts", "payload"]).collect()[0]
    assert row["payload"] == "new"


def test_vector_functions(spark):
    df = spark.createDataFrame(
        [Row(a=[1.0, 2.0, 3.0], b=[4.0, 5.0, 6.0])]
    )
    r = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        euclidean(F.col("a"), F.col("b")).alias("e"),
        cosine(F.col("a"), F.col("a")).alias("c"),
    ).collect()[0]
    assert r["d"] == 32.0
    assert r["e"] == pytest.approx(math.sqrt(27))
    assert r["c"] == pytest.approx(1.0)


def test_point_in_polygon_edges(spark):
    """The product's containment test (polygon_geofence_join over
    point_in_polygon_literal) on a concave polygon whose horizontal
    edges get no crossing term."""
    from botkop_telcotraffic_spark_spark.operators.geofence import polygon_geofence_join

    # (x = lng, y = lat) vertices
    poly = [(0.0, 0.0), (0.0, 10.0), (5.0, 10.0), (5.0, 5.0), (10.0, 5.0), (10.0, 0.0)]
    cases = [
        (2.0, 2.0, True),     # plainly inside
        (7.0, 7.0, False),    # inside bbox, outside concavity
        (2.0, 7.0, True),     # upper-left lobe
        (-1.0, 5.0, False),   # outside
        (20.0, 20.0, False),  # far outside
    ]
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y, _) in enumerate(cases)], "id int, lng double, lat double"
    )
    fences = [("concave", [(y, x) for x, y in poly])]
    hits = {r["id"] for r in polygon_geofence_join(df, fences).collect()}
    assert [i in hits for i in range(len(cases))] == [c[2] for c in cases]


def test_streaming_kmeans_update_rule(spark):
    """One batch against the published mini-batch rule
    c' = (c*n*a + sum(x)) / (n*a + m) with n=0 initially."""
    model = StreamingKMeans(k=1, dim=2, decay=0.5, seed=1)
    c0 = list(model.centroids[0])
    batch = spark.createDataFrame(
        [Row(point=[1.0, 1.0]), Row(point=[3.0, 5.0])]
    )
    model.update(batch, "point")
    # n=0 -> c' = mean of batch
    assert model.centroids[0] == pytest.approx([2.0, 3.0])
    assert model.weights[0] == 2.0
    # second batch with decay 0.5: n=2*0.5=1, m=1, x=[0,0]
    model.update(spark.createDataFrame([Row(point=[0.0, 0.0])]), "point")
    assert model.centroids[0] == pytest.approx([1.0, 1.5])
    assert model.weights[0] == 2.0
    assert c0 != model.centroids[0]


@pytest.mark.parametrize("decay", [-1.0, -1e-9, math.nan, math.inf])
def test_streaming_kmeans_refuses_negative_or_non_finite_decay(decay):
    """MLlib's setDecayFactor rule (a >= 0), finite: a negative weight
    extrapolates the centroids or divides by zero at n + m = 0.  The
    pipeline, which builds its model at construction, refuses it too."""
    from botkop_telcotraffic_spark_spark.streaming.pipeline import TrafficPipeline

    with pytest.raises(ValueError, match="decay"):
        StreamingKMeans(k=1, dim=2, decay=decay)
    with pytest.raises(ValueError, match="decay"):
        TrafficPipeline(metric_names=["rtt"], kmeans_dims=["rtt"], decay=decay)


def _kmeans_rule(cents, weights, points, decay):
    """Pure-Python model of one StreamingKMeans batch: nearest centroid
    (lowest id on a tie), then c' = (c*n*a + sum(x)) / (n*a + m) and
    n' = n*a + m; a cluster with m = 0 keeps c, and n' = n*a."""
    groups = [[] for _ in cents]
    for p in points:
        d2 = [sum((x - y) ** 2 for x, y in zip(p, c)) for c in cents]
        groups[d2.index(min(d2))].append(p)
    new_c, new_w = [], []
    for c, w, g in zip(cents, weights, groups):
        n = w * decay
        if not g:
            new_c.append(list(c))
            new_w.append(n)
            continue
        sums = [sum(p[d] for p in g) for d in range(len(c))]
        new_c.append([(c[d] * n + sums[d]) / (n + len(g)) for d in range(len(c))])
        new_w.append(n + len(g))
    return new_c, new_w, [len(g) for g in groups]


def test_streaming_kmeans_replay_matches_update_rule_exactly(spark):
    """k=3, decay 0.5, four batches against ``_kmeans_rule``.  Batch 2
    leaves cluster 2 empty and batch 4 cluster 0, so the unseen branch
    runs.  The state is set directly, which skips seeding, and every
    coordinate, sum and weight is dyadic, so no summation order can move
    a bit: centroids and weights must match with ==."""
    model = StreamingKMeans(k=3, dim=2, decay=0.5)
    model.centroids = [[0.0, 0.0], [8.0, 8.0], [-8.0, 8.0]]
    model.weights = [2.0, 4.0, 2.0]
    batches = [
        [[0.5, -0.25], [8.5, 8.0], [7.0, 9.5],
         [-8.0, 7.5], [-9.0, 8.25], [-7.5, 8.0]],
        [[0.25, 0.5], [-0.5, 0.0], [1.0, -0.75], [8.25, 7.75], [9.0, 8.5]],
        [[0.0, 1.0], [-1.0, -0.5], [7.5, 8.0], [8.0, 7.0],
         [-8.25, 8.75], [-7.75, 7.25], [-8.5, 8.0]],
        [[8.75, 8.25], [7.25, 7.75], [-8.0, 8.0], [-9.0, 7.0],
         [-7.0, 9.0], [-8.5, 8.5], [-7.5, 7.5], [-8.25, 8.25]],
    ]
    cents, weights = [list(c) for c in model.centroids], list(model.weights)
    seen = []
    for pts in batches:
        cents, weights, m = _kmeans_rule(cents, weights, pts, 0.5)
        seen.append(m)
        # three map tasks, so the aggregate merges partial rows
        df = spark.createDataFrame([(p,) for p in pts], "point array<double>")
        model.update(df.repartition(3), "point")
        assert model.centroids == cents
        assert model.weights == weights
    assert seen == [[1, 2, 3], [3, 2, 0], [2, 2, 3], [0, 2, 6]]
    assert model.weights == [2.0, 4.0, 8.0]


def test_streaming_kmeans_separates_blobs(spark):
    rng = random.Random(3)
    blobs = [(0.0, 0.0), (50.0, 50.0), (-40.0, 30.0)]
    rows = []
    for bx, by in blobs:
        rows += [
            Row(point=[bx + rng.gauss(0, 1), by + rng.gauss(0, 1)])
            for _ in range(60)
        ]
    rng.shuffle(rows)
    model = StreamingKMeans(k=3, dim=2, decay=1.0, seed=5)
    df = spark.createDataFrame(rows)
    for _ in range(5):
        model.update(df, "point")
    centers = sorted(tuple(c) for c in model.centroids)
    found = sorted(blobs)
    for (cx, cy), (bx, by) in zip(centers, found):
        assert math.hypot(cx - bx, cy - by) < 3.0


def test_assign_nearest(spark):
    """The product's literal-pairs ``assign`` and the registry's
    ``assign_frame`` over a centroid DataFrame agree."""
    from botkop_telcotraffic_spark_spark.operators.kmeans_batch import assign_frame

    pairs = [(0, [0.0, 0.0]), (1, [10.0, 10.0])]
    cents = spark.createDataFrame(pairs, "prediction int, centroid array<double>")
    pts = spark.createDataFrame(
        [Row(id=1, point=[1.0, 1.0]), Row(id=2, point=[9.0, 9.0])]
    )
    for out in (assign(pts, pairs, vec_col="point"), assign_frame(pts, cents)):
        out = {r["id"]: r for r in out.collect()}
        assert out[1]["prediction"] == 0 and out[2]["prediction"] == 1
        assert out[1]["distance"] == pytest.approx(math.sqrt(2))


def test_ivf_topk_probes_right_cells(spark):
    """IVF ANN: with well-separated cells, probing the nearest cell
    finds the true neighbors; a query near cell A never scans cell B's
    list (operators/similarity.py::ivf_topk)."""
    from botkop_telcotraffic_spark_spark.operators.similarity import ivf_topk

    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [100.0, 100.0])],
        "prediction int, centroid array<double>",
    )
    corpus = spark.createDataFrame(
        [
            Row(vec_id=10, embedding=[1.0, 0.0]),
            Row(vec_id=11, embedding=[0.0, 2.0]),
            Row(vec_id=20, embedding=[99.0, 100.0]),
            Row(vec_id=21, embedding=[101.0, 100.0]),
        ]
    )
    q = spark.createDataFrame([Row(vec_id=10, embedding=[1.0, 0.0])])
    out = ivf_topk(q, corpus, cents, k=10, nprobe=1)
    got = {r["neighbor_id"] for r in out.collect()}
    # self excluded; only the near cell's list is searched
    assert got == {11}

    out2 = ivf_topk(q, corpus, cents, k=10, nprobe=2)
    got2 = {r["neighbor_id"] for r in out2.collect()}
    assert got2 == {11, 20, 21}


def test_blocked_topk_matches_fold_path(spark):
    """brute_force_topk_blocked (BLAS matmul + slack-thresholded
    partial top-k) returns the same neighbor ranking as the exact
    fold-expression path on real fixture embeddings, including across
    multiple Arrow batches (operators/similarity.py)."""
    from botkop_telcotraffic_spark_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_blocked,
    )
    from botkop_telcotraffic_spark_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").repartition(4)
    q = emb.where("vec_id < 3")
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(q, emb, k=5).collect()
    }
    blocked = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk_blocked(q, emb, k=5).collect()
    }
    assert blocked == exact


def test_multimodal_decode_with_injected_codec(spark):
    """mapInPandas decode plumbing with a deterministic fake codec
    (operators/multimodal.py — real codec libs live outside this
    container; the Spark-side schema/batch shape is what's tested)."""
    from botkop_telcotraffic_spark_spark.operators.multimodal import (
        decode_features,
        frame_sample_plan,
        media_schema,
    )

    rows = [
        (1, b"aaaa", ("image/png", None, None, None, "s3://x/1")),
        (2, b"bbbbbb", ("image/png", None, None, None, "s3://x/2")),
    ]
    df = spark.createDataFrame(rows, media_schema())

    def fake_codec(content: bytes) -> dict:
        return {
            "width": len(content),
            "height": 2 * len(content),
            "features": [float(content[0]), float(len(content))],
        }

    out = {r["media_id"]: r for r in decode_features(df, codec=fake_codec).collect()}
    assert out[1]["width"] == 4 and out[1]["height"] == 8
    assert out[2]["features"] == [98.0, 6.0]

    def fake_frames(content: bytes, every_ms: int) -> list[bytes]:
        return [content[i : i + 2] for i in range(0, len(content), 2)]

    frames = frame_sample_plan(df, every_ms=40, codec=fake_frames).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append((r["frame_idx"], r["frame"]))
    assert sorted(by_media[2]) == [(0, bytearray(b"bb")), (1, bytearray(b"bb")), (2, bytearray(b"bb"))]

    from botkop_telcotraffic_spark_spark.operators.multimodal import resize_images

    def fake_resize(content: bytes, w: int, h: int) -> bytes:
        return content[: w * h // 8] or b"\x00"

    resized = {
        r["media_id"]: r for r in resize_images(df, 4, 4, codec=fake_resize).collect()
    }
    assert bytes(resized[1]["content"]) == b"aa"
    assert resized[1]["meta"]["width"] == 4 and resized[1]["meta"]["height"] == 4
    assert resized[2]["meta"]["mime"] == "image/png"  # meta rides along


def test_asof_join_tolerance_and_equality(spark):
    """As-of join: equal timestamps match; tolerance drops stale
    matches; left rows with no prior right row drop (inner)."""
    from botkop_telcotraffic_spark_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 25, 101), (2, 5, 102)], "k int, t int, lid int"
    ).select("k", "t", "lid")
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (3, 1, "z")], "k int, t int, payload string"
    )
    out = asof_join(
        left.withColumnRenamed("k", "key"),
        right.withColumnRenamed("k", "key"),
        key="key", left_ts="t", right_ts="t", right_cols=["payload"],
    )
    got = {r["lid"]: (r["asof_t"], r["asof_payload"]) for r in out.collect()}
    # equality matches (10 -> 10); 25 -> latest at 20; key 2 drops
    assert got == {100: (10, "a"), 101: (20, "b")}


def test_windowed_stats_two_phase_parity(spark):
    """Two-phase sliding stats (bucket partials + combine) agrees with
    the single-phase plan on real data at round_digits=6."""
    from botkop_telcotraffic_spark_spark.operators.window_stats import windowed_stats
    from botkop_telcotraffic_spark_spark.sources.tables import load_table

    from tests.conftest import SF_DIR_001

    e = load_table(spark, SF_DIR_001, "events")
    kwargs = dict(window="30 seconds", slide="10 seconds", round_digits=6)
    one = windowed_stats(e, "ts", ["user_id"], "value", **kwargs)
    two = windowed_stats(e, "ts", ["user_id"], "value", two_phase=True, **kwargs)
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, two.collect()))


def test_asof_join_property_vs_pandas(spark):
    """Property: asof_join agrees with pandas merge_asof on randomized
    inputs (keys, ties, empty matches)."""
    import pandas as pd

    from botkop_telcotraffic_spark_spark.operators.asof import asof_join

    rng = random.Random(7)
    for trial in range(5):
        left_rows = [
            (rng.randint(0, 4), rng.randint(0, 100), 1000 + i)
            for i in range(rng.randint(1, 40))
        ]
        right_rows = []
        used = set()
        for j in range(rng.randint(1, 40)):
            k, t = rng.randint(0, 4), rng.randint(0, 100)
            if (k, t) in used:  # unique (key, ts) like the operator contract
                continue
            used.add((k, t))
            right_rows.append((k, t, float(j)))
        left = spark.createDataFrame(left_rows, "k int, t int, lid int")
        right = spark.createDataFrame(right_rows, "k int, t int, payload double")
        out = asof_join(left, right, key="k", left_ts="t", right_ts="t",
                        right_cols=["payload"])
        got = {r["lid"]: (r["asof_t"], r["asof_payload"]) for r in out.collect()}

        lp = pd.DataFrame(left_rows, columns=["k", "t", "lid"]).sort_values("t")
        rp = pd.DataFrame(right_rows, columns=["k", "t", "payload"]).sort_values("t")
        m = pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
        # merge_asof keeps all left rows; ours is inner — compare matched only
        matched = {
            int(r.lid): r.payload for r in m.itertuples() if pd.notna(r.payload)
        }
        assert {k: v[1] for k, v in got.items()} == matched, f"trial {trial}"


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation handles chains (multi-round), cliques,
    and leaves singletons untouched (operators/graph.py)."""
    from botkop_telcotraffic_spark_spark.operators.graph import (
        connected_components,
        dedup_groups_from_pairs,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21), (21, 22), (20, 22)],
        "a long, b long",
    )
    comps = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    all_ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]], "doc_id long")
    groups = {
        r["id"]: r["cluster"]
        for r in dedup_groups_from_pairs(all_ids, edges, "doc_id").collect()
    }
    assert groups[99] == 99  # singleton maps to itself
    assert groups[4] == 1 and groups[22] == 20


def test_star_contraction_matches_union_find(spark):
    """CC-MR large/small-star contraction (operators/graph.py::
    star_contraction_components) must produce the identical
    (node -> component-min) labeling as driver union-find on chains,
    cliques, crossing edges, and a planted random graph — and must
    converge on a LONG PATH in far fewer rounds than its diameter
    (the case it exists for)."""
    import random

    from botkop_telcotraffic_spark_spark.operators.graph import (
        _driver_union_find,
        star_contraction_components,
    )

    # long path: diameter 199; label propagation without pointer
    # jumping would need ~200 rounds — star contraction logarithmic
    path = [(i, i + 1) for i in range(200)]
    # planted clusters + noise edges, seeded
    rng = random.Random(7)
    planted = []
    for c in range(20):
        members = [1000 + c * 50 + i for i in range(rng.randint(2, 12))]
        planted += [(rng.choice(members), rng.choice(members)) for _ in range(15)]
    edges = path + planted
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: r["component"]
        for r in star_contraction_components(df, max_iter=12).collect()
    }
    want = dict(_driver_union_find(edges))
    assert got == want


def test_star_contraction_round_count_logarithmic(spark):
    """The round-count contract the cc_star_chain_components oracle
    entry relies on (r11 verdict #4): a path of diameter d converges
    in O(log d) contraction rounds, NOT O(d) — the `stats` hook
    reports the rounds actually run so a silent regression to
    diameter-bound behavior fails here rather than as a bench
    blow-up.  Each round = 2 half-step shuffles + 1 scalar probe."""
    from botkop_telcotraffic_spark_spark.operators.graph import (
        star_contraction_components,
    )

    path = [(i, i + 1) for i in range(316)]  # one 317-node segment
    df = spark.createDataFrame(path, "a long, b long")
    stats: dict = {}
    out = star_contraction_components(df, stats=stats)
    assert out.where("component != 0").count() == 0
    # log2(317) ~ 8.3; contraction may need a couple extra rounds to
    # notice the fixpoint but must be nowhere near diameter-bound
    assert 1 <= stats["rounds"] <= 14, stats


def test_connected_components_star_fallback(spark):
    """connected_components past max_iter on a chain graph falls back
    to star contraction instead of raising (same API, r11 verdict
    #4) — and the fallback produces the exact min-labeling."""
    from botkop_telcotraffic_spark_spark.operators.graph import (
        connected_components,
    )

    path = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(path, "a long, b long")
    # driver_threshold=0 forces the distributed branch; max_iter=1
    # cannot converge on diameter 120 -> the star fallback must fire
    out = {
        r["node"]: r["component"]
        for r in connected_components(
            df, driver_threshold=0, max_iter=1
        ).collect()
    }
    assert out == {i: 0 for i in range(121)}
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            df, driver_threshold=0, max_iter=1, fallback_star=False
        ).collect()


def test_rollup_partials_match_direct(spark):
    """Composing 1-minute partials into 10-minute windows equals
    computing the 10-minute stats directly from raw events (to 6
    rounded digits — the mergeable (sum,sumsq) finalization)."""
    from botkop_telcotraffic_spark_spark.operators.window_stats import (
        rollup_partials,
        windowed_stat_partials,
        windowed_stats,
    )
    from botkop_telcotraffic_spark_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_001

    e = load_table(spark, SF_DIR_001, "events")
    p = windowed_stat_partials(e, "ts", ["user_id"], "value", "1 minute")
    composed = rollup_partials(p, ["user_id"], "10 minutes", round_digits=4)
    direct = windowed_stats(
        e, "ts", ["user_id"], "value", window="10 minutes", round_digits=4
    ).select(*composed.columns)
    assert sorted(map(tuple, composed.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_lloyd_kmeans_deterministic_and_improving(spark):
    """Lloyd iterations are deterministic (partitioning-independent)
    and never increase the total within-cluster distance."""
    from botkop_telcotraffic_spark_spark.operators.kmeans_batch import (
        assign_frame,
        lloyd_kmeans,
    )
    from botkop_telcotraffic_spark_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_001

    emb = load_table(spark, SF_DIR_001, "embeddings")
    pts = emb.select("vec_id", F.col("embedding").alias("point"))

    def cost(iters):
        cents = lloyd_kmeans(emb, "embedding", k=4, iterations=iters)
        a = assign_frame(pts, cents)
        return a.agg(F.sum("distance")).collect()[0][0], {
            r["prediction"]: [round(x, 9) for x in r["centroid"]]
            for r in cents.collect()
        }

    c1, cents_a = cost(1)
    c3, _ = cost(3)
    assert c3 <= c1 + 1e-9, f"cost went up: {c1} -> {c3}"
    # determinism across a different input partitioning
    _, cents_b = cost(1)
    assert cents_a == cents_b
    emb32 = emb.repartition(7)
    cents_c = {
        r["prediction"]: [round(x, 9) for x in r["centroid"]]
        for r in lloyd_kmeans(emb32, "embedding", k=4, iterations=1).collect()
    }
    assert cents_a == cents_c


def test_hash_split_stable_under_partitioning_and_growth(spark):
    """Hash-based split/sample decisions are per-key pure functions:
    identical under repartitioning and unchanged when the corpus
    grows (no train/test leakage on rebuilds)."""
    from botkop_telcotraffic_spark_spark.operators.sampling import (
        stratified_hash_sample,
        train_val_test_split,
    )
    from botkop_telcotraffic_spark_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_001

    d = load_table(spark, SF_DIR_001, "documents")
    full = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(d, "doc_id").select("doc_id", "split").collect()
    }
    rep = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(d.repartition(7), "doc_id")
        .select("doc_id", "split")
        .collect()
    }
    assert full == rep
    half = d.where(F.col("doc_id") % 2 == 0)
    sub = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(half, "doc_id").select("doc_id", "split").collect()
    }
    assert all(full[k] == v for k, v in sub.items())
    assert 0.05 < sum(v == "test" for v in full.values()) / len(full) < 0.2

    kept = {r["doc_id"] for r in stratified_hash_sample(
        d, "doc_id", "lang", {"en": 0.5}, default_rate=1.0).collect()}
    kept_rep = {r["doc_id"] for r in stratified_hash_sample(
        d.repartition(5), "doc_id", "lang", {"en": 0.5}, default_rate=1.0).collect()}
    assert kept == kept_rep


def test_pii_redact_planted(spark):
    from botkop_telcotraffic_spark_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "contact john.doe@example.com or +32 475 123 456 now"),
            (2, "server at 10.0.0.1 and 192.168.1.254 rebooted"),
            (3, "plain text with no identifiers at all"),
            (4, "two mails a@b.io c.d@e.org one phone 0475 11 22 33"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in pii_redact(df, "doc_id", "text").collect()}
    assert (rows[1]["n_email"], rows[1]["n_ip"], rows[1]["n_phone"]) == (1, 0, 1)
    assert rows[1]["redacted"] == "contact <EMAIL> or <PHONE> now"
    assert (rows[2]["n_email"], rows[2]["n_ip"], rows[2]["n_phone"]) == (0, 2, 0)
    assert rows[2]["redacted"] == "server at <IP> and <IP> rebooted"
    assert rows[3]["redacted"] == "plain text with no identifiers at all"
    assert (rows[4]["n_email"], rows[4]["n_phone"]) == (2, 1)
    assert rows[4]["redacted"] == "two mails <EMAIL> <EMAIL> one phone <PHONE>"


def test_pii_redact_matches_duckdb_on_planted(spark):
    """Cross-engine regex parity on text that actually contains PII
    (the synthetic corpus is digit-free, so the sf oracle run only
    pins the no-op path)."""
    import duckdb

    import __spark_entry__ as entry_mod
    from botkop_telcotraffic_spark_spark.operators.text import pii_redact

    data = [
        (1, "mail x_1%y@sub.domain.co, ip 8.8.8.8, call (02) 123 45 67"),
        (2, "edge a@b.cd next to 999.1.2.3 and +1 (555) 000-1111 end"),
        (3, "no pii here just words"),
    ]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    got = sorted(
        tuple(r) for r in pii_redact(df, "doc_id", "text").collect()
    )
    con = duckdb.connect()
    con.register(
        "documents",
        con.query("SELECT * FROM (VALUES " + ", ".join(
            f"({i}, '{t}')" for i, t in data
        ) + ") AS t(doc_id, text)").to_arrow_table(),
    )
    want = sorted(tuple(r) for r in con.sql(entry_mod._PII_SQL).fetchall())
    assert got == want


def test_incremental_dup_flags(spark):
    from botkop_telcotraffic_spark_spark.operators.dedup import incremental_dup_flags

    base = "key agg row scan slow fast table value part hash merge batch spark"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different words about streams windows joins")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, base),  # exact copy -> all bands agree
            (11, base + " tail"),  # near-copy -> >=1 band agrees
            (12, "unrelated fresh content nothing shared with any corpus doc"),
        ],
        ["doc_id", "text"],
    )
    flags = {
        r["id"]: r["is_dup"]
        for r in incremental_dup_flags(corpus, new, "doc_id", "text").collect()
    }
    assert flags[10] is True
    # near-copy: the appended word changes only the trailing shingles,
    # so the first bands' min-hashes agree — deterministic for this
    # fixture (pinned by running the affine hashes once)
    assert flags[11] is True
    assert flags[12] is False
    assert set(flags) == {10, 11, 12}


def test_banded_near_dup_subset_and_recall(spark):
    """Banded embedding near-dup: exact-cosine verification makes
    precision 1.0 (banded ⊆ all-pairs); recall at the fixture's low
    0.4 threshold must clear the LSH-math floor."""
    from botkop_telcotraffic_spark_spark.operators.similarity import (
        near_dup_pairs,
        near_dup_pairs_banded,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["a"], r["b"], r["cosine_sim"])
        for r in near_dup_pairs(emb, threshold=0.4).collect()
    }
    banded = {
        (r["a"], r["b"], r["cosine_sim"])
        for r in near_dup_pairs_banded(emb, dim=64, threshold=0.4).collect()
    }
    assert banded <= exact, "banded produced a pair the exact path did not"
    if exact:
        assert len(banded) / len(exact) >= 0.6, (len(banded), len(exact))


def test_jaccard_hot_shingle_pruning_bounds_candidates(spark):
    """A planted boilerplate shingle shared by every doc must NOT
    quadratically explode candidate pairs when df-pruning is on."""
    from botkop_telcotraffic_spark_spark.operators.dedup import jaccard_pairs

    boiler = "all rights reserved worldwide"
    docs = [(i, f"unique{i} body{i} tail{i} {boiler}") for i in range(100)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    # unpruned: the hot shingles pair every doc with every other
    assert jaccard_pairs(df, "doc_id", "text", k=3).count() == 100 * 99 // 2
    # pruned at 5%: hot shingles dropped, no shared rare shingles remain
    pruned = jaccard_pairs(df, "doc_id", "text", k=3, max_doc_freq_frac=0.05)
    assert pruned.count() == 0


def test_bmp_ppm_codec_round_trip():
    """Pure-stdlib codecs: encode -> decode is lossless for both
    formats, including BMP rows needing pad bytes (w*3 % 4 != 0)."""
    from botkop_telcotraffic_spark_spark.operators.multimodal import (
        _decode_bmp,
        _decode_ppm,
        decode_image,
        encode_bmp,
        encode_ppm,
    )

    for w, h in [(4, 3), (5, 3), (7, 2), (1, 1)]:  # 5,7 -> padded rows
        px = [((i * 37) % 256, (i * 11) % 256, (i * 5) % 256) for i in range(w * h)]
        assert _decode_bmp(encode_bmp(w, h, px)) == (w, h, px)
        assert _decode_ppm(encode_ppm(w, h, px)) == (w, h, px)
    # comment-bearing PPM headers parse too
    ppm = b"P6\n# a comment\n2 1\n255\n" + bytes(range(6))
    assert _decode_ppm(ppm) == (2, 1, [(0, 1, 2), (3, 4, 5)])
    out = decode_image(encode_bmp(2, 2, [(9, 9, 9)] * 4))
    assert out["width"] == 2 and out["height"] == 2
    assert out["features"][2] == 9.0  # mean_r of constant image


def test_png_codec_round_trip_all_filters_and_types():
    """Pure-stdlib PNG codec: encode -> decode is lossless for
    gray/RGB/RGBA at sizes whose row counts cycle through all five
    scanline filters (the encoder uses filter y % 5 on purpose), a
    hand-built palette PNG decodes through PLTE, and unsupported
    layouts raise the explicit injection-point guard."""
    import struct
    import zlib

    import pytest

    from botkop_telcotraffic_spark_spark.operators.multimodal import (
        PNG_SIG,
        _decode_png,
        _png_chunk,
        decode_image,
        encode_png,
        resize_image_bytes,
    )

    for w, h in [(1, 1), (4, 3), (5, 7), (16, 2), (3, 11)]:
        px = [((i * 37) % 256, (i * 11) % 256, (i * 5) % 256) for i in range(w * h)]
        assert _decode_png(encode_png(w, h, px)) == (w, h, px)
        assert _decode_png(encode_png(w, h, px, color_type=6)) == (w, h, px)
        gray = [((i * 37) % 256,) * 3 for i in range(w * h)]
        assert _decode_png(encode_png(w, h, gray, color_type=0)) == (w, h, gray)
    # hand-built palette (color type 3) PNG decodes via PLTE lookup
    ihdr = struct.pack(">2I5B", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes((255, 0, 0, 0, 255, 0))
    raw = bytes([0, 0, 1, 0, 1, 0])  # two filter-0 scanlines
    png = (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert _decode_png(png) == (
        2, 2, [(255, 0, 0), (0, 255, 0), (0, 255, 0), (255, 0, 0)]
    )
    # decode_image dispatch + nearest-neighbor resize re-encode
    d = decode_image(encode_png(4, 4, [(10, 20, 30)] * 16))
    assert d["width"] == 4 and abs(d["features"][2] - 10.0) < 1e-9
    px = [(x * 10, y * 10, 0) for y in range(4) for x in range(4)]
    small = resize_image_bytes(encode_png(4, 4, px), 2, 2)
    assert _decode_png(small) == (2, 2, [px[0], px[2], px[8], px[10]])
    # explicit guards, not silent misdecodes
    ihdr16 = struct.pack(">2I5B", 1, 1, 16, 2, 0, 0, 0)
    deep = PNG_SIG + _png_chunk(b"IHDR", ihdr16) + _png_chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError, match="8-bit"):
        _decode_png(deep)
    ihdr_i = struct.pack(">2I5B", 1, 1, 8, 2, 0, 0, 1)
    inter = PNG_SIG + _png_chunk(b"IHDR", ihdr_i) + _png_chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError, match="Adam7"):
        _decode_png(inter)


def test_png_golden_byte_shapes():
    """Pin the exact encoded bytes of the synth-fixture PNGs (the
    BMP-golden discipline): a codec change that alters the wire
    format fails here before it can silently shift the oracle
    entry."""
    import hashlib

    from botkop_telcotraffic_spark_spark.operators.multimodal import encode_png

    golden = {0: (88, "7d42e7f8cfed1328"), 7: (122, "4081127a47a95ba2")}
    for mid, (n_bytes, sha16) in golden.items():
        w, h = 4 + mid % 5, 3 + mid % 4
        px = [((mid * 31 + i) % 256,) * 3 for i in range(w * h)]
        blob = encode_png(w, h, px)
        assert len(blob) == n_bytes, (mid, len(blob))
        assert hashlib.sha256(blob).hexdigest()[:16] == sha16, mid


def test_resize_image_bytes_real_codec():
    from botkop_telcotraffic_spark_spark.operators.multimodal import (
        _decode_bmp,
        decode_image,
        encode_bmp,
        resize_image_bytes,
    )

    px = [(x * 10, y * 10, 0) for y in range(4) for x in range(4)]
    small = resize_image_bytes(encode_bmp(4, 4, px), 2, 2)
    w, h, spx = _decode_bmp(small)
    assert (w, h) == (2, 2)
    # nearest-neighbor: output (x,y) samples source (x*4//2, y*4//2)
    assert spx == [px[0], px[2], px[8], px[10]]
    assert decode_image(small)["features"][0] == 2.0


def test_decode_features_default_codec_is_real(spark):
    """decode_features needs NO injected codec for BMP/PPM payloads."""
    from botkop_telcotraffic_spark_spark.operators.multimodal import (
        decode_features,
        synth_images,
    )

    ids = spark.range(6).select(F.col("id").alias("media_id"))
    out = decode_features(synth_images(ids)).collect()
    assert len(out) == 6
    by_id = {r["media_id"]: r for r in out}
    for mid in range(6):
        assert by_id[mid]["width"] == 4 + mid % 5
        assert by_id[mid]["height"] == 3 + mid % 4
        w, h = 4 + mid % 5, 3 + mid % 4
        vals = [(mid * 31 + i) % 256 for i in range(w * h)]
        assert abs(by_id[mid]["features"][2] - sum(vals) / len(vals)) < 1e-9


def test_weighted_hash_sample_two_phase_exact_and_stable(spark):
    """Two-phase shard decomposition must equal the one-phase window
    result, and the selection must be invariant to partitioning."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from botkop_telcotraffic_spark_spark.functions.textfn import (
        rolling_fingerprint,
    )
    from botkop_telcotraffic_spark_spark.operators.sampling import (
        weighted_hash_sample,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "lang", F.greatest("n_chars", F.lit(1)).alias("w")
    )
    got = {
        (r["doc_id"], r["lang"])
        for r in weighted_hash_sample(
            df, "doc_id", "w", k=5, stratum_col="lang"
        ).collect()
    }

    # one-phase reference
    fp = rolling_fingerprint(
        F.concat(F.lit("wsample:"), F.col("doc_id").cast("string"))
    )
    u = (fp.cast("double") + F.lit(0.5)) / F.lit(1_000_000_007.0)
    pr = F.log(u) / F.col("w").cast("double")
    w1 = Window.partitionBy("lang").orderBy(F.desc("_pr"), F.col("doc_id"))
    ref = {
        (r["doc_id"], r["lang"])
        for r in df.withColumn("_pr", pr)
        .withColumn("_rk", F.row_number().over(w1))
        .where(F.col("_rk") <= 5)
        .collect()
    }
    assert got == ref

    again = {
        (r["doc_id"], r["lang"])
        for r in weighted_hash_sample(
            df.repartition(13), "doc_id", "w", k=5, stratum_col="lang"
        ).collect()
    }
    assert again == got


def test_weighted_hash_sample_favors_heavy_rows(spark):
    """Heavy rows must be selected far above their uniform share —
    the A-ES proportional-inclusion property, sanity-checked."""
    from pyspark.sql import functions as F

    from botkop_telcotraffic_spark_spark.operators.sampling import (
        weighted_hash_sample,
    )

    rows = [(i, 1000.0 if i % 10 == 0 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, ["id", "w"])
    picked = weighted_hash_sample(df, "id", "w", k=50).collect()
    heavy = sum(1 for r in picked if r["w"] == 1000.0)
    # 100 heavy rows of 1000 (10% uniform share); weight 1000x should
    # make them dominate the k=50 sample
    assert heavy >= 40, heavy


def test_fuzzy_join_finds_planted_typos_and_prefix_subset(spark):
    """Every single-char-dropped typo must link back to its source
    (recall-exact under the length precondition); the prefix-filtered
    scale variant must be a subset of the exact candidates."""
    from pyspark.sql import functions as F

    from botkop_telcotraffic_spark_spark.operators.fuzzy import fuzzy_join

    p = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    typos = p.select(
        F.concat(
            F.expr("substring(p_name, 1, 2)"), F.expr("substring(p_name, 4)")
        ).alias("t")
    )
    exact = {
        (r["a"], r["b"])
        for r in fuzzy_join(p, typos, "p_name", "t", max_dist=1).collect()
    }
    # planted recall: each long-enough name matches its own typo
    for r in p.select("p_name").distinct().collect():
        name = r["p_name"]
        typo = name[:2] + name[3:]
        if len(name) >= 6 and len(typo) >= 6:
            assert (name, typo) in exact, (name, typo)

    pref = {
        (r["a"], r["b"])
        for r in fuzzy_join(
            p, typos, "p_name", "t", max_dist=1, prefix_k=4
        ).collect()
    }
    assert pref <= exact
    # hot-gram pruning must not cost recall on this fixture
    assert len(pref) >= int(0.9 * len(exact)), (len(pref), len(exact))


def test_nd_band_key_sql_matches_column_twin(spark):
    """The SQL-string band keys (the hot path) must equal the Column
    API construction bit-for-bit — guards the two plane-family
    implementations against silent drift."""
    from pyspark.sql import functions as F

    from botkop_telcotraffic_spark_spark.operators.similarity import (
        _nd_band_key,
        _nd_band_key_sql,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(50).select("vec_id", F.col("embedding").alias("_v"))
    for band in (0, 7, 15):
        col_v = _nd_band_key(F.col("_v"), 64, band, 4).alias("k")
        sql_v = F.expr(_nd_band_key_sql("_v", 64, band, 4)).alias("k2")
        bad = emb.select(col_v, sql_v).where(F.col("k") != F.col("k2"))
        assert bad.count() == 0, bad.take(3)


def test_mad_outliers_flags_planted_spike(spark):
    from botkop_telcotraffic_spark_spark.operators.iqr import mad_outliers
    from botkop_telcotraffic_spark_spark.plans.inspect import physical_plan

    rows = [(i, "a", 10.0 + (i % 7) * 0.1) for i in range(200)]
    rows.append((900, "a", 10_000.0))  # the spike
    df = spark.createDataFrame(rows, ["id", "grp", "v"])
    out = mad_outliers(df, ["grp"], "v")
    got = [r["id"] for r in out.collect()]
    assert got == [900]
    # both median join-backs must broadcast: the fact side never shuffles
    plan = physical_plan(out)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan

    # approx mode agrees on an obvious spike
    approx = [r["id"] for r in mad_outliers(df, ["grp"], "v", mode="approx").collect()]
    assert 900 in approx


def test_scd2_collapses_runs_and_closes_intervals(spark):
    """scd2_intervals (operators/scd.py): runs of identical attrs
    collapse to one interval; valid_to chains to the next run's
    valid_from; only the last run per key is current; null attrs
    compare null-safely."""
    import datetime as dt

    from botkop_telcotraffic_spark_spark.operators.scd import scd2_intervals

    t = lambda d: dt.datetime(2024, 1, d)
    rows = [
        (1, "O", t(1), 1), (1, "O", t(2), 2), (1, "F", t(3), 3),
        (1, "F", t(4), 4), (1, "O", t(5), 5),
        (2, None, t(1), 6), (2, None, t(2), 7), (2, "P", t(3), 8),
    ]
    df = spark.createDataFrame(
        rows, "k long, status string, ts timestamp, seq long"
    )
    out = scd2_intervals(df, ["k"], "ts", ["status"], ["seq"]).collect()
    got = {
        (r["k"], r["status"], r["valid_from"].day): (
            r["valid_to"].day if r["valid_to"] else None,
            r["is_current"],
        )
        for r in out
    }
    assert got == {
        (1, "O", 1): (3, False),
        (1, "F", 3): (5, False),
        (1, "O", 5): (None, True),
        (2, None, 1): (3, False),
        (2, "P", 3): (None, True),
    }
    assert len(out) == 5  # runs collapsed, not one row per observation


def test_ranking_metrics_known_values(spark):
    """ranking_metrics (operators/ranking.py) against hand-computed
    MRR/NDCG/recall, including the no-relevant and graded cases."""
    import math

    from botkop_telcotraffic_spark_spark.operators.ranking import (
        ranking_metrics,
    )

    rows = (
        # q1: rel at ranks 2 and 4 (binary)
        [(1, r, 1 if r in (2, 4) else 0) for r in range(1, 6)]
        # q2: nothing relevant
        + [(2, r, 0) for r in range(1, 6)]
        # q3: graded relevance, best item ranked last
        + [(3, 1, 1), (3, 2, 0), (3, 3, 3)]
    )
    df = spark.createDataFrame(rows, "q long, rank long, rel long")
    got = {
        r["q"]: r for r in ranking_metrics(df, "q", "rank", "rel", k=3).collect()
    }
    assert got[1]["mrr"] == 0.5
    # DCG@3 = 1/log2(3); IDCG@3 = 1/log2(2) + 1/log2(3)
    want1 = (1 / math.log2(3)) / (1.0 + 1 / math.log2(3))
    assert abs(got[1]["ndcg_at_k"] - want1) < 1e-12
    assert got[1]["recall_at_k"] == 0.5  # one of two relevant in top 3
    assert got[2]["mrr"] == 0.0 and got[2]["ndcg_at_k"] == 0.0
    assert got[2]["recall_at_k"] == 0.0
    # q3: DCG = 1/1 + 3/log2(4); ideal order (3,1): IDCG = 3 + 1/log2(3)
    want3 = (1.0 + 3 / 2.0) / (3.0 + 1 / math.log2(3))
    assert abs(got[3]["ndcg_at_k"] - want3) < 1e-12
    assert got[3]["mrr"] == 1.0 and got[3]["recall_at_k"] == 1.0


def test_equi_width_hist_conserves_and_handles_degenerate(spark):
    """equi_width_hist (operators/histogram.py): bin counts sum to the
    non-null row count, max lands in the LAST bin (clamped), and a
    constant group collapses into bin 0."""
    from botkop_telcotraffic_spark_spark.operators.histogram import (
        equi_width_hist,
    )

    rows = [("a", float(i)) for i in range(101)] + [
        ("b", 7.0), ("b", 7.0), ("b", 7.0), ("a", None)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = equi_width_hist(df, ["g"], "v", bins=10).collect()
    a = {r["bin"]: r for r in out if r["g"] == "a"}
    b = {r["bin"]: r for r in out if r["g"] == "b"}
    assert sum(r["n"] for r in a.values()) == 101
    assert max(a) == 9  # v=100.0 clamps into the last bin
    assert a[0]["bin_lo"] == 0.0 and a[9]["bin_hi"] == 100.0
    assert set(b) == {0} and b[0]["n"] == 3


def test_span_dedup_keeps_first_occurrence_only(spark):
    """span_dedup (operators/dedup.py): a span repeated across (and
    within) documents survives exactly once — at its smallest
    (doc, position); partial trailing spans dedup like any other."""
    from botkop_telcotraffic_spark_spark.operators.dedup import span_dedup

    boiler = "one two three"
    rows = [
        (1, f"{boiler} alpha beta gamma"),       # spans: boiler+.., tail
        (2, f"{boiler} alpha beta gamma"),       # exact copy -> all dropped
        (3, f"delta {boiler} epsilon zeta eta"), # different split points
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r for r in span_dedup(df, "doc_id", "text", span_words=3).collect()
    }
    assert out[1]["n_spans"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["new_text"] == "one two three alpha beta gamma"
    # doc 2 is span-for-span identical to doc 1 -> nothing survives
    assert out[2]["n_kept"] == 0 and out[2]["new_text"] == ""
    # doc 3's spans differ (offset shifts the 3-word windows) -> kept
    assert out[3]["n_kept"] == out[3]["n_spans"] == 3
    assert out[3]["new_text"] == "delta one two three epsilon zeta eta"


def test_quality_logistic_gate_monotone_and_bounded(spark):
    """quality_logistic_gate (operators/text.py): probabilities in
    (0,1); a diverse long doc outscores a stopword-stuffed repetitive
    one; keep matches the rounded-prob threshold."""
    from botkop_telcotraffic_spark_spark.operators.text import (
        quality_logistic_gate,
    )

    good = " ".join(f"word{i}" for i in range(60))
    bad = " ".join(["the a of"] * 20)
    df = spark.createDataFrame(
        [(1, good), (2, bad)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in quality_logistic_gate(df, "doc_id", "text").collect()}
    for r in out.values():
        assert 0.0 < r["quality_prob"] < 1.0
        assert r["keep"] == (r["quality_prob"] >= 0.5)
    assert out[1]["quality_prob"] > out[2]["quality_prob"]
    assert out[1]["keep"] is True and out[2]["keep"] is False


def test_heavy_hitters_exact_counts_and_shares(spark):
    """heavy_hitters (operators/skew.py): exact top-k by count with
    deterministic tie order, share = weight/total over ALL keys (not
    just the returned k), cum_share increments in rank order; the
    weighted form sums the weight column instead."""
    from botkop_telcotraffic_spark_spark.operators.skew import heavy_hitters

    rows = (
        [("hot", 1.0)] * 6 + [("warm", 2.0)] * 3 + [("a", 1.0)] * 3
        + [("b", 1.0), ("c", 1.0)]
    )
    df = spark.createDataFrame(rows, "k string, v double")
    out = heavy_hitters(df, ["k"], k=3).collect()
    assert [r["k"] for r in out] == ["hot", "a", "warm"]  # ties: key asc
    assert [r["weight"] for r in out] == [6, 3, 3]
    total = 14.0
    assert out[0]["share"] == round(6 / total, 6)
    assert out[2]["cum_share"] == round(12 / total, 6)
    w = heavy_hitters(df, ["k"], k=2, weight_col="v").collect()
    assert [r["k"] for r in w] == ["hot", "warm"]
    assert [r["weight"] for r in w] == [6.0, 6.0]


def test_categorical_drift_js_properties(spark):
    """categorical_drift (operators/drift.py): identical slices give
    JS divergence 0; disjoint categories give a large positive JS;
    counts are raw while probabilities are Laplace-smoothed (finite
    for one-slice-only categories); sum(js_term) stays in [0, 1]."""
    from botkop_telcotraffic_spark_spark.operators.drift import (
        categorical_drift,
    )
    from pyspark.sql import functions as F

    same = spark.createDataFrame(
        [("x", False), ("y", False), ("x", True), ("y", True)],
        "cat string, b boolean",
    )
    out = categorical_drift(same, ["cat"], F.col("b")).collect()
    assert all(r["js_term"] == 0.0 for r in out)

    disjoint = spark.createDataFrame(
        [("only_a", False)] * 5 + [("only_b", True)] * 5,
        "cat string, b boolean",
    )
    rows = {r["cat"]: r for r in
            categorical_drift(disjoint, ["cat"], F.col("b")).collect()}
    assert rows["only_a"]["n_a"] == 5 and rows["only_a"]["n_b"] == 0
    assert rows["only_b"]["p_a"] > 0.0  # smoothing keeps it finite
    js = sum(r["js_term"] for r in rows.values())
    assert 0.5 < js <= 1.0


def test_deterministic_shuffle_dense_stable_and_salted(spark):
    """deterministic_shuffle (operators/sampling.py): pos is dense
    1..n per shard, assignment is a pure function of (salt, key)
    (re-run identical), and a different salt yields a different
    permutation."""
    from botkop_telcotraffic_spark_spark.operators.sampling import (
        deterministic_shuffle,
    )

    df = spark.createDataFrame([(i,) for i in range(200)], "k long")
    out = deterministic_shuffle(df, "k", 4).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(4)) and len(out) == 200
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    again = deterministic_shuffle(df, "k", 4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = deterministic_shuffle(df, "k", 4, salt="epoch2:").collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))


def test_token_balanced_shards_mass_within_one_doc(spark):
    """token_balanced_shards (operators/sampling.py): shards are
    contiguous in the given order and each shard's token mass is
    within one max-document of total/k, even under heavy length
    skew; shard ids cover [0, k)."""
    from botkop_telcotraffic_spark_spark.operators.sampling import (
        token_balanced_shards,
    )

    rows = [(i, 1 if i < 90 else 100) for i in range(100)]  # skewed tail
    df = spark.createDataFrame(rows, "doc long, toks int")
    out = token_balanced_shards(df, "toks", 4, ["doc"], partitions=4)
    rs = sorted(out.collect(), key=lambda r: r["doc"])
    assert [r["running_tokens"] for r in rs] == [
        sum(t for _, t in rows[: i + 1]) for i in range(100)
    ]
    shards = [r["shard"] for r in rs]
    assert shards == sorted(shards)  # contiguous cut points
    total = sum(t for _, t in rows)
    per = {}
    for r in rs:
        per[r["shard"]] = per.get(r["shard"], 0) + r["toks"]
    assert set(per) == set(range(4))
    for mass in per.values():
        assert abs(mass - total / 4) <= 100  # one max-doc tolerance


def test_epoch_repeat_mix_counts_and_determinism(spark):
    """epoch_repeat_mix (operators/sampling.py): e=2.0 repeats every
    row exactly twice; e=2.5 gives 2 or 3 copies with roughly half
    the keys getting the third; e=0 drops the stratum; copy indices
    are dense 1..n and re-runs are identical."""
    from botkop_telcotraffic_spark_spark.operators.sampling import (
        epoch_repeat_mix,
    )

    # 2000 keys: the rolling-hash buckets of SHORT sequential keys
    # cluster below ~1k keys (digit-structure runs mod 10000) and
    # equidistribute above it — sized where the law of the hash holds
    rows = [(i, "a") for i in range(2000)] + [(i, "b") for i in range(2000, 2300)]
    df = spark.createDataFrame(rows, "k long, s string")
    out = epoch_repeat_mix(df, "k", "s", {"a": 2.5, "b": 2.0}).collect()
    per = {}
    for r in out:
        per.setdefault(r["k"], []).append(r["copy"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per.values())
    a_counts = [len(per[i]) for i in range(2000)]
    assert set(a_counts) <= {2, 3}
    third = sum(1 for c in a_counts if c == 3)
    assert 800 <= third <= 1200  # ~half, hash-deterministic
    assert all(len(per[i]) == 2 for i in range(2000, 2300))
    dropped = epoch_repeat_mix(df, "k", "s", {"a": 1.0}).collect()
    assert {r["s"] for r in dropped} == {"a"}
    again = epoch_repeat_mix(df, "k", "s", {"a": 2.5, "b": 2.0}).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_pagerank_hand_values_and_mass_conservation(spark):
    """pagerank (operators/graph.py): a 2-cycle stays uniform; a
    single edge a->b with dangling b gives the hand-computed ranks
    after one iteration ((1-d)/N + d*(recv + dangling/N)); total
    rank mass is conserved at 1 across iterations."""
    from botkop_telcotraffic_spark_spark.operators.graph import pagerank

    cyc = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    r = {x["node"]: x["rank"] for x in pagerank(cyc, iterations=4).collect()}
    assert abs(r["a"] - 0.5) < 1e-12 and abs(r["b"] - 0.5) < 1e-12

    one = spark.createDataFrame([("a", "b")], "src string, dst string")
    r1 = {x["node"]: x["rank"] for x in pagerank(one, iterations=1).collect()}
    # N=2, r0=0.5: dangling m=0.5 (b); a gets 0.075+0.85*(0+0.25)
    assert abs(r1["a"] - 0.2875) < 1e-12
    assert abs(r1["b"] - 0.7125) < 1e-12
    r3 = pagerank(one, iterations=3).collect()
    assert abs(sum(x["rank"] for x in r3) - 1.0) < 1e-9


def test_stat_partials_merge_equals_direct(spark):
    """stat_partials/merge_stat_partials (operators/window_stats.py):
    merging partials from an arbitrary 3-way split reproduces the
    direct keyed stats exactly (n/min/max) and to float tolerance
    (mean/stdev); nulls are excluded like count(value)."""
    import math
    import random

    from botkop_telcotraffic_spark_spark.operators.window_stats import (
        keyed_stats,
        merge_stat_partials,
        stat_partials,
    )

    rng = random.Random(7)
    rows = [("k%d" % (i % 3), rng.uniform(-50, 50)) for i in range(300)]
    rows += [("k0", None), ("k1", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    parts = [df.where(F.crc32(F.col("v").cast("string")) % 3 == i)
             for i in range(3)]
    merged = {
        r["g"]: r
        for r in merge_stat_partials(
            stat_partials(parts[0], ["g"], "v")
            .unionByName(stat_partials(parts[1], ["g"], "v"))
            .unionByName(stat_partials(parts[2], ["g"], "v")),
            ["g"],
        ).collect()
    }
    direct = {r["g"]: r for r in keyed_stats(df, ["g"], "v").collect()}
    assert set(merged) == set(direct)
    for g, d in direct.items():
        m = merged[g]
        assert m["n"] == d["n"]
        assert m["vmin"] == d["vmin"]
        assert m["vmax"] == d["vmax"]
        assert math.isclose(m["mean"], d["mean"], abs_tol=1e-6)
        assert math.isclose(m["stdev"], d["stdev"], abs_tol=1e-6)


def test_bloom_no_false_negatives_and_join_identical(spark):
    """bloom_prune_join (operators/bloom.py): a Bloom filter may pass
    extra rows but must NEVER drop a true match — every build key
    probes true, and the pruned join is row-identical to the plain
    join (false positives removed by the exact join)."""
    from botkop_telcotraffic_spark_spark.operators import bloom

    keys = spark.range(0, 500).select((F.col("id") * 7 + 3).alias("k"))
    words = bloom.bloom_build(keys, "k", num_bits=1 << 12, num_hashes=4)
    missed = keys.where(
        ~bloom.bloom_probe(F.col("k"), words, num_hashes=4)
    ).count()
    assert missed == 0

    fact = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    pruned = bloom.bloom_prune_join(
        fact, keys, "k", "k", num_bits=1 << 12, num_hashes=4
    )
    plain = fact.join(keys, fact.k == keys.k)
    got = sorted(r["v"] for r in pruned.collect())
    want = sorted(r["v"] for r in plain.collect())
    assert got == want


def test_bloom_sizing_formula_and_validation(spark):
    import math

    import pytest as _pytest

    from botkop_telcotraffic_spark_spark.operators import bloom

    # k*n/m = 5*1000/65536 -> (1-e^-x)^5, hand-checked
    x = 5 * 1000 / 65536
    assert math.isclose(
        bloom.bloom_false_positive_rate(1000, 1 << 16, 5),
        (1 - math.exp(-x)) ** 5,
    )
    df = spark.range(1).select(F.col("id").alias("k"))
    with _pytest.raises(ValueError):
        bloom.bloom_build(df, "k", num_bits=100)  # not a multiple of 64
    with _pytest.raises(ValueError):
        bloom.bloom_prune_join(df, df, "k", "k", how="left")


def test_trend_ols_hand_values_and_degenerates(spark):
    """trend_ols (operators/timeseries.py): exact fit on a perfect
    line (slope 2, intercept 1, r²=1), a hand-checked noisy fit, and
    NULL handling for degenerate groups (n<2, zero x-variance) and a
    flat-y group (slope 0 defined, r² NULL)."""
    from botkop_telcotraffic_spark_spark.operators.timeseries import trend_ols

    rows = (
        [("line", float(x), 2.0 * x + 1.0) for x in range(10)]
        # y = x with one outlier at (4, 0): hand-solved below
        + [("noisy", 0.0, 0.0), ("noisy", 1.0, 1.0), ("noisy", 2.0, 2.0),
           ("noisy", 3.0, 3.0), ("noisy", 4.0, 0.0)]
        + [("single", 5.0, 7.0)]
        + [("novarx", 3.0, 1.0), ("novarx", 3.0, 2.0)]
        + [("flaty", 1.0, 4.0), ("flaty", 2.0, 4.0), ("flaty", 3.0, 4.0)]
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: r for r in trend_ols(df, ["g"], "x", "y").collect()}

    assert got["line"]["slope"] == 2.0
    assert got["line"]["intercept"] == 1.0
    assert got["line"]["r2"] == 1.0

    # noisy: n=5 sx=10 sy=6 sxy=14 sxx=30 syy=14
    # slope=(5*14-60)/(5*30-100)=10/50=0.2
    # intercept=(6-0.2*10)/5=0.8 ; r2=100/(50*(70-36))=100/1700
    assert got["noisy"]["slope"] == 0.2
    assert got["noisy"]["intercept"] == 0.8
    assert got["noisy"]["r2"] == round(100 / 1700, 6)

    for g in ("single", "novarx"):
        assert got[g]["slope"] is None and got[g]["r2"] is None
    assert got["flaty"]["slope"] == 0.0
    assert got["flaty"]["intercept"] == 4.0
    assert got["flaty"]["r2"] is None


def test_triangle_counts_hand_graphs(spark):
    """triangle_counts (operators/graph.py): K4 has 4 triangles with
    every node in 3; a square (C4) has none; a star has none (the
    degree orientation must not manufacture wedges at the hub); a
    hub with one rim edge has exactly one triangle.  Duplicate and
    reversed input edges must not double-count."""
    from botkop_telcotraffic_spark_spark.operators.graph import triangle_counts

    def run(edges):
        df = spark.createDataFrame(edges, "src string, dst string")
        return {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}

    k4 = [(a, b) for i, a in enumerate("abcd") for b in "abcd"[i + 1:]]
    # duplicates + reversals: same graph
    got = run(k4 + [(b, a) for a, b in k4] + k4[:2])
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}

    assert run([("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]) == {}

    star = [("hub", f"s{i}") for i in range(6)]
    assert run(star) == {}
    got = run(star + [("s0", "s1")])
    assert got == {"hub": 1, "s0": 1, "s1": 1}


def test_pca_fit_matches_numpy_and_projects(spark):
    """pca_fit/pca_project (operators/pca.py): the distributed gram
    pass + driver eigen must reproduce numpy PCA on the same data —
    eigenvalues match eigvalsh, components are orthonormal and
    sign-fixed (deterministic across runs), and the fold-based
    projection equals (X−μ)·cᵀ to float tolerance."""
    import numpy as np

    from botkop_telcotraffic_spark_spark.operators import pca

    rng = np.random.default_rng(11)
    d, n, k = 6, 300, 3
    # anisotropic cloud so the spectrum is distinct
    X = rng.normal(size=(n, d)) * np.array([5.0, 3.0, 2.0, 1.0, 0.5, 0.1])
    rows = [(int(i), [float(v) for v in X[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(4)

    fit = pca.pca_fit(df, "embedding", d, k)
    mu = X.mean(axis=0)
    cov = (X - mu).T @ (X - mu) / n
    want_evals = np.sort(np.linalg.eigvalsh(cov))[::-1][:k]
    assert np.allclose(fit["explained_var"], want_evals, atol=1e-9)
    assert np.allclose(fit["mean"], mu, atol=1e-9)

    C = np.asarray(fit["components"])
    assert np.allclose(C @ C.T, np.eye(k), atol=1e-9)  # orthonormal
    for row in C:  # sign fix
        assert row[int(np.argmax(np.abs(row)))] > 0

    proj = pca.pca_project(df, "embedding", fit["mean"], fit["components"])
    got = {r["vec_id"]: np.asarray(r["pc"]) for r in proj.collect()}
    want = (X - mu) @ C.T
    for i in range(n):
        assert np.allclose(got[i], want[i], atol=1e-5)

    # variance ratios: descending, sum <= 1
    r = fit["ratio"]
    assert all(r[i] >= r[i + 1] for i in range(k - 1)) and sum(r) <= 1 + 1e-12

    with pytest.raises(ValueError):
        pca.pca_fit(df.limit(1), "embedding", d, k)


def test_markov_transitions_hand_sequence(spark):
    """markov_transitions (operators/funnel.py): hand-built sequences
    A->B->A->C (u1) and B->A (u2, interleaved timestamps) give exact
    counts/probabilities; a same-timestamp pair is ordered by the
    tiebreaker; last events emit no transition."""
    from botkop_telcotraffic_spark_spark.operators.funnel import (
        markov_transitions,
    )

    rows = [
        ("u1", 1, 1, "A"), ("u1", 2, 2, "B"), ("u1", 3, 3, "A"),
        ("u1", 4, 4, "C"),
        ("u2", 1, 5, "B"), ("u2", 5, 6, "A"),
        # u3: same ts, tiebreak 8 before 9 -> X->Y not Y->X
        ("u3", 7, 8, "X"), ("u3", 7, 9, "Y"),
    ]
    df = spark.createDataFrame(rows, "u string, ts long, eid long, s string")
    got = {
        (r["state"], r["next_state"]): (r["n"], r["p"])
        for r in markov_transitions(df, "u", "ts", "s", "eid").collect()
    }
    assert got == {
        ("A", "B"): (1, 0.5),
        ("A", "C"): (1, 0.5),
        ("B", "A"): (2, 1.0),
        ("X", "Y"): (1, 1.0),
    }


def test_snapshot_diff_statuses_and_null_safety(spark):
    """snapshot_diff (operators/diff.py): added/removed/changed with
    column attribution; NULL->value and value->NULL are changes,
    NULL->NULL is not; unchanged keys are omitted."""
    from botkop_telcotraffic_spark_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, 40.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (4, None, None), (5, "e", 50.0)],
        "k int, s string, v double",
    )
    got = {
        r["k"]: (r["status"], r["changed_cols"])
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {
        2: ("changed", "v"),      # NULL -> 20.0
        3: ("removed", ""),
        4: ("changed", "v"),      # 40.0 -> NULL; s NULL->NULL not a change
        5: ("added", ""),
    }
    # multi-column change attribution, sorted names
    old2 = spark.createDataFrame([(1, "a", 1.0)], "k int, s string, v double")
    new2 = spark.createDataFrame([(1, "b", 2.0)], "k int, s string, v double")
    [r] = snapshot_diff(old2, new2, ["k"]).collect()
    assert r["changed_cols"] == "s,v"


def test_apply_changes_upsert_delete_latest_wins(spark):
    """apply_changes (operators/diff.py): CDC-apply semantics —
    insert new keys, latest-version update wins, a winning delete
    removes the key, and a STALE delete (older version than the base
    row) must NOT remove it; at an exact (version, tiebreak) tie the
    changelog row beats the base row (at-least-once replay)."""
    from botkop_telcotraffic_spark_spark.operators.diff import apply_changes

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10), (4, "d", 10)],
        "k int, s string, v int",
    )
    chg = spark.createDataFrame(
        [
            (2, "b2", 11, "U"),   # update: newer version wins
            (2, "b1", 9, "U"),    # stale update: loses to v11
            (3, "x", 12, "D"),    # delete: newer, key removed
            (4, "y", 9, "D"),     # STALE delete: base v10 survives
            (5, "e", 11, "U"),    # insert
            (1, "a2", 10, "U"),   # exact tie with base: change wins
        ],
        "k int, s string, v int, op string",
    )
    got = {
        r["k"]: (r["s"], r["v"])
        for r in apply_changes(base, chg, ["k"], "v").collect()
    }
    assert got == {
        1: ("a2", 10),
        2: ("b2", 11),
        4: ("d", 10),
        5: ("e", 11),
    }
    # snapshot_diff(base, apply_changes(base, chg)) round-trips: the
    # extracted delta names exactly the keys the changelog touched
    from botkop_telcotraffic_spark_spark.operators.diff import snapshot_diff

    nxt = apply_changes(base, chg, ["k"], "v")
    delta = {
        r["k"]: r["status"] for r in snapshot_diff(base, nxt, ["k"]).collect()
    }
    assert delta == {1: "changed", 2: "changed", 3: "removed", 5: "added"}


def test_rebalance_to_target_binding_group_kept_whole(spark):
    """rebalance_to_target (operators/sampling.py): the binding
    group (smallest count/target ratio) is kept in full, groups
    outside the target map are dropped, kept rows are a subset of
    the input, and the draw is deterministic across invocations."""
    from botkop_telcotraffic_spark_spark.operators.sampling import (
        rebalance_to_target,
    )

    rows = (
        [(f"a{i}", "a") for i in range(100)]
        + [(f"b{i}", "b") for i in range(50)]
        + [(f"c{i}", "c") for i in range(10)]
        + [(f"x{i}", "other") for i in range(20)]
    )
    df = spark.createDataFrame(rows, "k string, g string")
    targets = {"a": 0.5, "b": 0.3, "c": 0.2}
    # s = min(100/.5, 50/.3, 10/.2) = 50 -> per-group thresholds
    # floor(10000 * min(1, s*p/n)): a=2500, b=3000, c=10000 (whole)
    out = rebalance_to_target(df, "k", "g", targets)
    kept = {r["k"] for r in out.select("k").collect()}
    from botkop_telcotraffic_spark_spark.operators.sampling import (
        hash_bucket,
    )

    thresh = {"a": 2500, "b": 3000, "c": 10000}
    buckets = {
        r["k"]: r["b"]
        for r in df.select("k", hash_bucket(F.col("k")).alias("b")).collect()
    }
    expected = {
        k for k, g in rows if g in thresh and buckets[k] < thresh[g]
    }
    assert kept == expected                       # exact keep rule
    assert {k for k, g in rows if g == "c"} <= kept   # binding group whole
    assert not any(k.startswith("x") for k in kept)   # untargeted dropped
    again = {r["k"] for r in
             rebalance_to_target(df, "k", "g", targets).select("k").collect()}
    assert kept == again                          # deterministic


def test_seasonal_zscore_flags_cell_outlier(spark):
    """seasonal_zscore (operators/timeseries.py): a value normal
    globally but anomalous FOR ITS HOUR is flagged; the same value in
    an hour where it is typical is not; zero-variance cells never
    flag (no division blowup)."""
    from botkop_telcotraffic_spark_spark.operators.timeseries import (
        seasonal_zscore,
    )

    rows = []
    # hour 3: tight cell around 10 (+ one wild 100 -> the anomaly)
    for i, v in enumerate([10.0, 11.0, 9.0, 10.0, 100.0]):
        rows.append((i, f"2024-01-01 03:{i:02d}:00", "load", v))
    # hour 12: 100 is TYPICAL here -> must not flag
    for i, v in enumerate([100.0, 101.0, 99.0, 101.0, 99.0]):
        rows.append((10 + i, f"2024-01-01 12:{i:02d}:00", "load", v))
    # hour 5: zero variance -> sd = 0, never flagged
    for i in range(3):
        rows.append((20 + i, f"2024-01-01 05:{i:02d}:00", "load", 7.0))
    df = spark.createDataFrame(
        rows, "event_id int, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = seasonal_zscore(df, "ts", ["event_type"], "value", z_thresh=1.5)
    got = out.select("event_id", "hour_of_day", "z").collect()
    assert [r["event_id"] for r in got] == [4]
    assert got[0]["hour_of_day"] == 3 and got[0]["z"] > 1.5


def test_negative_samples_never_self_deterministic(spark):
    """negative_samples (operators/sampling.py): k rows per key, a
    key never draws itself, all negatives are real corpus keys, and
    two runs produce identical pairs (hash, not RNG)."""
    from botkop_telcotraffic_spark_spark.operators.sampling import (
        negative_samples,
    )

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    out = negative_samples(df, "doc_id", k=3).collect()
    assert len(out) == 150
    ids = set(range(50))
    for r in out:
        assert r["neg_doc_id"] != r["doc_id"]
        assert r["neg_doc_id"] in ids
    again = negative_samples(df, "doc_id", k=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # a different salt is a different draw
    other = negative_samples(df, "doc_id", k=3, salt="negs2:").collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, out))


def test_chi_square_drift_hand_table(spark):
    """chi_square_drift (operators/drift.py): hand-solved 2x2x2 —
    X: a=30,b=10; Y: a=20,b=40 -> ta=tb=50, exp X=(20,20), Y=(30,30),
    chi2 X=10, Y=20/3; identical slices give chi2 0."""
    from botkop_telcotraffic_spark_spark.operators.drift import (
        chi_square_drift,
    )

    rows = (
        [("X", False)] * 30 + [("X", True)] * 10
        + [("Y", False)] * 20 + [("Y", True)] * 40
    )
    df = spark.createDataFrame(rows, "cat string, b boolean")
    got = {
        r["cat"]: r
        for r in chi_square_drift(df, ["cat"], F.col("b")).collect()
    }
    assert (got["X"]["n_a"], got["X"]["n_b"]) == (30, 10)
    assert (got["X"]["exp_a"], got["X"]["exp_b"]) == (20.0, 20.0)
    assert got["X"]["chi2_term"] == 10.0
    assert got["Y"]["chi2_term"] == round(200 / 30, 6)

    same = spark.createDataFrame(
        [("X", False)] * 5 + [("X", True)] * 5, "cat string, b boolean"
    )
    [r] = chi_square_drift(same, ["cat"], F.col("b")).collect()
    assert r["chi2_term"] == 0.0


def test_impute_group_stat_strategies(spark):
    """impute_group_stat (operators/impute.py): median fill per
    group (interpolating: median of [1,2,10,100] = 6.0), mean fill,
    all-null group keeps null, flag set exactly on filled rows."""
    from botkop_telcotraffic_spark_spark.operators.impute import (
        impute_group_stat,
    )

    rows = [
        ("a", 1.0), ("a", 2.0), ("a", 10.0), ("a", 100.0), ("a", None),
        ("b", 5.0), ("b", None),
        ("c", None), ("c", None),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = impute_group_stat(df, ["g"], "v").collect()
    filled = sorted(
        (r["g"], r["v_filled"], r["was_imputed"]) for r in got
        if r["was_imputed"]
    )
    assert filled == [("a", 6.0, True), ("b", 5.0, True),
                      ("c", None, True), ("c", None, True)]
    assert all(not r["was_imputed"] for r in got if r["v"] is not None)

    mean = impute_group_stat(df, ["g"], "v", strategy="mean").collect()
    [a_fill] = [r["v_filled"] for r in mean if r["g"] == "a" and r["was_imputed"]]
    assert a_fill == (1.0 + 2.0 + 10.0 + 100.0) / 4

    with pytest.raises(ValueError):
        impute_group_stat(df, ["g"], "v", strategy="mode")


def test_association_rules_hand_baskets(spark):
    """association_rules (operators/assoc.py): hand-solved baskets
    {1:(x,y), 2:(x,y), 3:(x,z)} with min_support=2 keep only x<->y:
    conf(x->y)=2/3, conf(y->x)=1, lift both = 1 / (2/3 * ... ) —
    N=3, sup(x)=3, sup(y)=2: lift(x->y) = (2/3)/(2/3) = 1.0,
    lift(y->x) = 1/(3/3) = 1.0."""
    from botkop_telcotraffic_spark_spark.operators.assoc import (
        association_rules,
    )

    rows = [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z"),
            (1, "x")]  # duplicate item in basket must not double-count
    df = spark.createDataFrame(rows, "b int, item string")
    got = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(df, "b", "item", min_support=2).collect()
    }
    assert set(got) == {("x", "y"), ("y", "x")}
    assert got[("x", "y")]["support"] == 2
    assert got[("x", "y")]["confidence"] == round(2 / 3, 6)
    assert got[("x", "y")]["lift"] == 1.0
    assert got[("y", "x")]["confidence"] == 1.0
    assert got[("y", "x")]["lift"] == 1.0


def test_kfold_assign_disjoint_uniform_stable(spark):
    """kfold_assign (operators/sampling.py): folds cover [0,k),
    roughly uniform, and adding rows never moves an existing row's
    fold (growth stability)."""
    from botkop_telcotraffic_spark_spark.operators.sampling import (
        kfold_assign,
    )

    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    a = {r["id"]: r["fold"] for r in kfold_assign(df, "id", 5).collect()}
    assert set(a.values()) == {0, 1, 2, 3, 4}
    from collections import Counter

    c = Counter(a.values())
    assert all(120 <= v <= 280 for v in c.values()), c
    grown = spark.createDataFrame([(i,) for i in range(1500)], "id long")
    b = {r["id"]: r["fold"] for r in kfold_assign(grown, "id", 5).collect()}
    assert all(b[i] == a[i] for i in a)
    with pytest.raises(ValueError):
        kfold_assign(df, "id", 1)


def test_length_bucket_stats_hand_values(spark):
    """length_bucket_stats (operators/chunking.py): lens 1,2 -> their
    own buckets; 3 -> 4; 5,7,8 -> 8; waste and batch counts
    hand-checked; len 0 clamps to bucket 1."""
    from botkop_telcotraffic_spark_spark.operators.chunking import (
        length_bucket_stats,
    )

    df = spark.createDataFrame(
        [(1,), (2,), (3,), (5,), (7,), (8,), (0,)], "n long"
    )
    got = {r["bucket"]: r for r in length_bucket_stats(df, "n", batch_tokens=10).collect()}
    assert set(got) == {1, 2, 4, 8}
    assert (got[1]["n_seqs"], got[1]["sum_tokens"]) == (2, 2)  # 1 and clamped 0
    assert got[1]["waste_frac"] == 0.0
    assert got[4]["padded_tokens"] == 4 and got[4]["waste_frac"] == 0.25
    b8 = got[8]
    assert (b8["n_seqs"], b8["sum_tokens"], b8["padded_tokens"]) == (3, 20, 24)
    assert b8["waste_frac"] == round(4 / 24, 6)
    assert b8["n_batches"] == 3  # ceil(24/10)


def test_ks_drift_binned_hand_values(spark):
    """ks_drift_binned (operators/drift.py): A=[0,1,2,3] vs
    B=[2,3,3,3] on 4 bins over [0,3] -> binned ECDF gaps
    .25/.5/.5/0, KS=0.5 attained first at bin 1 (tie broken to the
    smaller bin); identical slices -> KS 0; a key with an empty
    slice is omitted."""
    from botkop_telcotraffic_spark_spark.operators.drift import (
        ks_drift_binned,
    )

    rows = (
        [("k", float(v), False) for v in [0, 1, 2, 3]]
        + [("k", float(v), True) for v in [2, 3, 3, 3]]
        + [("same", 1.0, False), ("same", 1.0, True)]
        + [("onesided", 2.0, False)]
    )
    df = spark.createDataFrame(rows, "g string, v double, b boolean")
    got = {
        r["g"]: r
        for r in ks_drift_binned(df, ["g"], "v", F.col("b"), bins=4).collect()
    }
    assert "onesided" not in got
    k = got["k"]
    assert (k["n_a"], k["n_b"], k["ks"], k["ks_bin"]) == (4, 4, 0.5, 1)
    assert got["same"]["ks"] == 0.0


def test_label_centroid_distance_hand_values(spark):
    """label_centroid_distance (operators/similarity.py): label A
    {(1,0),(0,1)} -> centroid (.5,.5), both members at cos 1/sqrt(2);
    label B single member at cos 1.0 to itself."""
    from botkop_telcotraffic_spark_spark.operators.similarity import (
        label_centroid_distance,
    )

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.0, 1.0], 0),
        (3, [2.0, 3.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = {
        r["vec_id"]: r["cos_centroid"]
        for r in label_centroid_distance(df, "vec_id", "embedding", "label").collect()
    }
    assert got[1] == got[2] == round(1 / 2**0.5, 6)
    assert got[3] == 1.0


def test_funnel_within_drops_late_converters(spark):
    """funnel_stages(within=...): u1 converts next hour (counted),
    u2 clicks 3 days after viewing (dropped by a 2-day bound but
    counted without one)."""
    from datetime import datetime

    from botkop_telcotraffic_spark_spark.operators.funnel import (
        funnel_stages,
    )

    def ts(d, h=0):
        return datetime(2024, 1, d, h)

    rows = [
        (1, ts(1), "view"), (1, ts(1, 1), "click"),
        (2, ts(1), "view"), (2, ts(4), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    unbounded = {
        r["stage"]: r["n_entities"]
        for r in funnel_stages(df, "user_id", "ts", "event_type", ["view", "click"]).collect()
    }
    bounded = {
        r["stage"]: r["n_entities"]
        for r in funnel_stages(df, "user_id", "ts", "event_type", ["view", "click"], within="2 days").collect()
    }
    assert unbounded == {"view": 2, "click": 2}
    assert bounded == {"view": 2, "click": 1}


def test_label_propagation_bridged_triangles_and_determinism(spark):
    """label_propagation (operators/graph.py): two triangles joined
    by one bridge stay two communities (components would merge
    them); repeated runs are identical (synchronous + deterministic
    ties)."""
    from botkop_telcotraffic_spark_spark.operators.graph import (
        label_propagation,
    )

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4),
             (2, 1)]  # reversed duplicate must not matter
    df = spark.createDataFrame(edges, "src int, dst int")
    out = {r["node"]: r["label"] for r in label_propagation(df, iterations=3).collect()}
    assert len({out[1], out[2], out[3]}) == 1
    assert len({out[4], out[5], out[6]}) == 1
    assert out[1] != out[4]
    again = {r["node"]: r["label"] for r in label_propagation(df, iterations=3).collect()}
    assert again == out


def test_label_propagation_driver_path_matches_distributed(spark):
    """label_propagation (operators/graph.py, r14): the scale-adaptive
    driver fast path must be bit-identical to the distributed
    per-round loop (forced via driver_threshold=0) — same fixture
    family as the connected_components probe contract, including a
    bridge, an isolated edge, asymmetric duplicates, and a star whose
    hub majority flips over rounds."""
    from botkop_telcotraffic_spark_spark.operators.graph import (
        label_propagation,
    )

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4),
             (2, 1), (10, 11), (7, 1), (7, 2), (7, 8), (8, 9), (9, 7)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    for iters in (1, 3):
        fast = sorted(
            tuple(r) for r in label_propagation(df, iterations=iters).collect()
        )
        dist = sorted(
            tuple(r)
            for r in label_propagation(
                df, iterations=iters, driver_threshold=0
            ).collect()
        )
        assert fast == dist, f"iterations={iters}: {fast} vs {dist}"


def test_mask_columns_deterministic_joinable_null_safe(spark):
    """mask_columns (operators/mask.py): same value same token
    (joins survive), different salt different token, NULL stays
    NULL, sha256 path and truncation work, bad algo raises."""
    import hashlib

    from botkop_telcotraffic_spark_spark.operators.mask import mask_columns

    df = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, "alice"), (4, None)],
        "id int, name string",
    )
    got = {r["id"]: r["name"] for r in mask_columns(df, ["name"], "s1:").collect()}
    assert got[1] == got[3] != got[2]
    assert got[4] is None
    assert got[1] == hashlib.md5(b"s1:alice").hexdigest()

    other = {r["id"]: r["name"] for r in mask_columns(df, ["name"], "s2:").collect()}
    assert other[1] != got[1]

    sha = {r["id"]: r["name"] for r in mask_columns(df, ["name"], "s1:", algo="sha256", length=8).collect()}
    assert sha[1] == hashlib.sha256(b"s1:alice").hexdigest()[:8]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        mask_columns(df, ["name"], "s", algo="rot13")


def test_target_encode_shrinks_and_handles_unseen(spark):
    """target_encode (operators/encode.py): hand-solved shrinkage —
    mu=2.0 over targets [1,1,4,2]; cat a (n=2, sum=2, alpha=2):
    (2+2*2)/(2+2)=1.5; unseen category in transform gets mu; rare
    category shrinks harder toward mu than a frequent one."""
    from botkop_telcotraffic_spark_spark.operators.encode import (
        target_encode,
    )

    fit = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 4.0), ("b", 2.0)],
        "cat string, y double",
    )
    enc = {r["cat"]: r["cat_enc"] for r in target_encode(
        fit, "cat", "y", alpha=2.0, out_col="cat_enc").collect()}
    assert enc["a"] == 1.5   # (2 + 2*2)/(2+2)
    assert enc["b"] == 2.5   # (6 + 4)/4

    new = spark.createDataFrame([("zzz", 0.0)], "cat string, y double")
    [r] = target_encode(new, "cat", "y", alpha=2.0, fit_df=fit,
                        out_col="cat_enc").collect()
    assert r["cat_enc"] == 2.0  # unseen -> global mean


def test_collapse_rare_thresholds_and_null(spark):
    """collapse_rare (operators/encode.py): below-threshold levels
    fold to __rare__, NULL stays NULL, at-threshold kept."""
    from botkop_telcotraffic_spark_spark.operators.encode import (
        collapse_rare,
    )

    rows = [("a",)] * 3 + [("b",)] * 2 + [("c",)] * 1 + [(None,)]
    df = spark.createDataFrame(rows, "cat string")
    out = [r["cat"] for r in collapse_rare(df, "cat", min_count=2).collect()]
    from collections import Counter

    assert Counter(out) == Counter(
        {"a": 3, "b": 2, "__rare__": 1, None: 1}
    )


def test_impute_preserves_null_key_rows(spark):
    """impute_group_stat (operators/impute.py): rows whose GROUP KEY
    is NULL survive (null-safe left join) — output is input-sized,
    and the NULL-key group imputes from its own statistic like any
    other group."""
    from botkop_telcotraffic_spark_spark.operators.impute import (
        impute_group_stat,
    )

    rows = [
        ("a", 1.0), ("a", None),
        (None, 7.0), (None, 9.0), (None, None),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = impute_group_stat(df, ["g"], "v").collect()
    assert len(got) == len(rows)                       # input-sized
    nulls = [r for r in got if r["g"] is None]
    assert len(nulls) == 3
    [filled] = [r for r in nulls if r["was_imputed"]]
    assert filled["v_filled"] == 8.0                   # median of 7,9


def test_snapshot_diff_rejects_duplicate_compare_cols(spark):
    """snapshot_diff (operators/diff.py): duplicate names in
    compare_cols raise a clear ValueError instead of falling through
    to bool(Column) inside sorted()."""
    from botkop_telcotraffic_spark_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame([(1, "x")], "k int, v string")
    new = spark.createDataFrame([(1, "y")], "k int, v string")
    with pytest.raises(ValueError, match="duplicate"):
        snapshot_diff(old, new, ["k"], compare_cols=["v", "v"])


def test_rebalance_binding_group_survives_float_roundtrip(spark):
    """rebalance_to_target (operators/sampling.py): (n=103, p=0.7)
    vs (n=100, p=0.3) makes s*p/n = 0.999... for the binding group —
    the old floor() dropped bucket-9999 keys.  Plant a key whose
    hash bucket IS 9999 and assert the binding group stays whole."""
    from botkop_telcotraffic_spark_spark.operators.sampling import (
        hash_bucket,
        rebalance_to_target,
    )

    cand = spark.createDataFrame(
        [(f"z{i}",) for i in range(30000)], "k string"
    )
    buckets = {
        r["k"]: r["b"]
        for r in cand.select(
            "k", hash_bucket(F.col("k")).alias("b")
        ).collect()
    }
    edge = [k for k, b in buckets.items() if b == 9999]
    assert edge, "no candidate key hashed to bucket 9999"
    others = [k for k, b in buckets.items() if b != 9999]
    a_keys = [edge[0]] + others[:102]          # 103 keys, binding group
    rows = [(k, "a") for k in a_keys] + [
        (f"bb{i}", "b") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k string, g string")
    kept = {
        r["k"]
        for r in rebalance_to_target(
            df, "k", "g", {"a": 0.7, "b": 0.3}
        ).select("k").collect()
    }
    assert set(a_keys) <= kept                 # binding group WHOLE


def test_negative_samples_single_key_raises(spark):
    """negative_samples (operators/sampling.py): a 1-key corpus has
    no valid negatives — raise loudly instead of the silent-empty
    result the NULL-on-mod-zero path produced."""
    from botkop_telcotraffic_spark_spark.operators.sampling import (
        negative_samples,
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame([("only",)], "doc_id string")
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)):
        negative_samples(df, "doc_id", k=2).collect()


def test_ks_drift_constant_column_reports_zero(spark):
    """ks_drift_binned (operators/drift.py): min == max (constant
    column) must not divide by zero — every row lands in bin 0 and
    identical constant slices report ks = 0, not NaN/NULL fallout."""
    from botkop_telcotraffic_spark_spark.operators.drift import (
        ks_drift_binned,
    )

    rows = [("t", 5.0, i % 2 == 0) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, v double, b boolean")
    [r] = ks_drift_binned(df, ["k"], "v", F.col("b"), bins=64).collect()
    assert r["n_a"] == 5 and r["n_b"] == 5
    assert r["ks"] == 0.0
    assert r["ks_bin"] == 0


def test_k_anonymity_and_l_diversity_hand(spark):
    """privacy.py: hand-built table — class (a,1) has 3 rows (passes
    k=3), (a,2) has 2 (violates); l-diversity over the same classes
    with sensitive s."""
    from botkop_telcotraffic_spark_spark.operators.privacy import (
        k_anonymity_violations,
        l_diversity_violations,
    )

    rows = [
        ("a", 1, "x"), ("a", 1, "y"), ("a", 1, "z"),
        ("a", 2, "x"), ("a", 2, "x"),
        (None, 1, "x"),
    ]
    df = spark.createDataFrame(rows, "q1 string, q2 int, s string")
    viol = {
        (r["q1"], r["q2"]): r["class_size"]
        for r in k_anonymity_violations(df, ["q1", "q2"], k=3).collect()
    }
    assert viol == {("a", 2): 2, (None, 1): 1}

    ldiv = {
        (r["q1"], r["q2"]): (r["class_size"], r["distinct_sensitive"])
        for r in l_diversity_violations(
            df, ["q1", "q2"], "s", l=2
        ).collect()
    }
    # (a,1) has 3 distinct -> passes l=2; (a,2) has 1; (None,1) has 1
    assert ldiv == {("a", 2): (2, 1), (None, 1): (1, 1)}

    import pytest as _pt

    with _pt.raises(ValueError):
        k_anonymity_violations(df, ["q1"], k=0)


def test_bootstrap_ci_deterministic_and_sane(spark):
    """boot.py: CI is deterministic across invocations, ordered
    (lo <= hi), brackets the point mean for a well-behaved sample,
    and the hash-Poisson weights average ~1."""
    import random

    from botkop_telcotraffic_spark_spark.operators.boot import (
        POISSON1_CDF,
        bootstrap_mean_ci,
    )

    rng = random.Random(7)
    rows = [("g", i, rng.uniform(0, 10)) for i in range(400)]
    df = spark.createDataFrame(rows, "g string, k long, v double")
    [r1] = bootstrap_mean_ci(df, ["g"], "v", "k", n_boot=16).collect()
    [r2] = bootstrap_mean_ci(df, ["g"], "v", "k", n_boot=16).collect()
    assert r1 == r2                         # deterministic
    assert r1["ci_lo"] <= r1["ci_hi"]
    assert r1["ci_lo"] <= r1["mean"] <= r1["ci_hi"]
    assert r1["n"] == 400
    # threshold chain is a valid CDF
    assert all(
        b > a for a, b in zip(POISSON1_CDF, POISSON1_CDF[1:])
    ) and POISSON1_CDF[-1] < 1.0


def test_cluster_eval_hand_values(spark):
    """cluster_eval.py: 2 centroids at (0,0) and (10,0); points at
    +-1 around each.  a=1, b in {9,11}; silhouette per cluster =
    avg((b-a)/b); Davies-Bouldin: S_i=1, M=10 -> r_max=0.2."""
    from botkop_telcotraffic_spark_spark.operators.cluster_eval import (
        davies_bouldin,
        simplified_silhouette,
    )

    pts = spark.createDataFrame(
        [
            (1, [1.0, 0.0]), (2, [-1.0, 0.0]),
            (3, [9.0, 0.0]), (4, [11.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0])],
        "prediction int, centroid array<double>",
    )
    sil = {
        r["cluster"]: (r["n"], r["silhouette"])
        for r in simplified_silhouette(pts, cents).collect()
    }
    # cluster 0: points 1,2 -> b = 9, 11; s = (8/9 + 10/11)/2
    exp0 = round((8 / 9 + 10 / 11) / 2, 6)
    assert sil[0] == (2, exp0) and sil[1] == (2, exp0)

    db = {
        r["cluster"]: (r["n"], r["s_scatter"], r["r_max"])
        for r in davies_bouldin(pts, cents).collect()
    }
    assert db[0] == (2, 1.0, 0.2) and db[1] == (2, 1.0, 0.2)


def test_last_touch_attribution_hand(spark):
    """funnel.py::last_touch_attribution: latest touch at-or-before
    wins, equal-timestamp ties go to the higher tiebreak id, no prior
    touch -> 'direct'."""
    from datetime import datetime

    from botkop_telcotraffic_spark_spark.operators.funnel import (
        last_touch_attribution,
    )

    t = datetime
    touches = spark.createDataFrame(
        [
            (1, t(2024, 1, 1, 10), "view", 100),
            (1, t(2024, 1, 1, 11), "click", 101),   # latest before conv
            (2, t(2024, 1, 2, 9), "view", 200),
            (2, t(2024, 1, 2, 9), "click", 201),    # tie -> higher id wins
            (3, t(2024, 1, 5, 0), "view", 300),     # AFTER conv -> direct
        ],
        "uid long, ts timestamp, ch string, eid long",
    )
    convs = spark.createDataFrame(
        [
            (1, t(2024, 1, 1, 12), 10.0),
            (2, t(2024, 1, 2, 9), 20.0),   # equal ts: touch wins (at-or-before)
            (3, t(2024, 1, 4, 0), 40.0),
        ],
        "uid long, ts timestamp, v double",
    )
    out = {
        r["channel"]: (r["n_conversions"], r["revenue"])
        for r in last_touch_attribution(
            convs, touches, "uid", "ts", "ts", "ch", "v", "eid"
        ).collect()
    }
    assert out == {"click": (2, 30.0), "direct": (1, 40.0)}


def test_gopher_rules_hand(spark):
    """text.py::gopher_rules: a 60-word clean doc passes every rule;
    a 5-word doc fails word count; a symbol-stuffed doc fails the
    symbol rule."""
    from botkop_telcotraffic_spark_spark.operators.text import gopher_rules

    good = " ".join(
        ["the", "be", "to", "of", "and"] + [f"word{i}" for i in range(55)]
    )
    short = "too short to pass here"
    symbols = " ".join(["####"] * 60)
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in gopher_rules(df, "doc_id", "text").collect()}
    assert out[1]["pass_gopher"] == 1
    assert out[2]["r_words"] == 0 and out[2]["pass_gopher"] == 0
    assert out[3]["r_symbol"] == 0 and out[3]["pass_gopher"] == 0
    assert out[1]["stop_hits"] == 5


def test_mmr_select_prefers_diverse(spark):
    """similarity.py::mmr_select: with lam=0.3 the second pick is the
    orthogonal lower-relevance candidate, not the near-duplicate of
    the first pick; rank order and determinism asserted."""
    from botkop_telcotraffic_spark_spark.operators.similarity import (
        mmr_select,
    )

    import math

    n = math.hypot(0.999, 0.045)
    cand = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 1.0),                     # top relevance
            (2, [0.999 / n, 0.045 / n], 0.999),       # near-dup of 1
            (3, [0.0, 1.0], 0.7),                     # diverse
        ],
        "vec_id long, embedding array<double>, relevance double",
    )
    out = [
        (r["rank"], r["vec_id"])
        for r in mmr_select(cand, k=3, lam=0.3).orderBy("rank").collect()
    ]
    assert out == [(1, 1), (2, 3), (3, 2)]


def test_spread_buckets_auto_probe(spark, monkeypatch):
    """dedup.py::_spread_buckets 'auto': narrow buckets skip the
    exchange, wide buckets (forced via AUTO_SPREAD_WIDTH=1) insert
    it; candidate pairs are identical in every mode."""
    from botkop_telcotraffic_spark_spark.operators import dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text with no overlap at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(spread):
        return sorted(
            (r["a"], r["b"], r["jaccard"])
            for r in dedup.jaccard_pairs(
                df, "doc_id", "text", spread=spread
            ).collect()
        )

    base = pairs(False)
    assert pairs("auto") == base          # narrow: probe says no spread
    monkeypatch.setattr(dedup, "AUTO_SPREAD_WIDTH", 1)
    assert pairs("auto") == base          # forced spread: same answer
    assert pairs(True) == base


def test_bm25_matches_python_model(spark):
    """ranking.py::bm25_scores vs an independent pure-python BM25
    (Lucene idf variant) on a 4-doc corpus."""
    import math

    from botkop_telcotraffic_spark_spark.operators.ranking import bm25_scores

    docs = {
        1: "spark join window join",
        2: "window window stream",
        3: "filter scan sort",
        4: "join stream stream stream",
    }
    q = ["join", "stream"]
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["matched_terms"], r["score"], r["rank"])
        for r in bm25_scores(df, q, top_n=10).collect()
    }

    toks = {d: t.split(" ") for d, t in docs.items()}
    N = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / N
    dfreq = {t: sum(1 for w in toks.values() if t in w) for t in q}
    exp = {}
    k1, b = 1.2, 0.75
    for d, t in toks.items():
        s, m = 0.0, 0
        for term in q:
            tf = t.count(term)
            if tf == 0:
                continue
            m += 1
            idf = math.log((N - dfreq[term] + 0.5) / (dfreq[term] + 0.5) + 1.0)
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * len(t) / avgdl)
            )
        if m:
            exp[d] = (m, round(s, 6))
    assert set(out) == set(exp)
    for d, (m, s) in exp.items():
        assert out[d][0] == m and out[d][1] == pytest.approx(s, abs=1e-6)
    ranks = sorted((v[1], d) for d, v in out.items())
    assert out[max(exp, key=lambda d: (exp[d][1], -d))][2] == 1


def test_cusum_changepoint_level_shift(spark):
    """timeseries.py::cusum_changepoint: series 0,0,0,10,10,10 has
    S = -5,-10,-15,-10,-5,0 -> peak |S| 15 at the 3rd point."""
    from datetime import datetime

    from botkop_telcotraffic_spark_spark.operators.timeseries import (
        cusum_changepoint,
    )

    rows = [
        ("k", datetime(2024, 1, 1, h), float(v), h)
        for h, v in enumerate([0, 0, 0, 10, 10, 10])
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double, i long")
    [r] = cusum_changepoint(df, ["k"], "ts", "v", tiebreak_col="i").collect()
    assert r["n"] == 6
    assert r["cp_ts"] == datetime(2024, 1, 1, 2)
    assert r["cusum_peak"] == -15.0


def test_winsorize_clamps_tails_only(spark):
    """iqr.py::winsorize: with lo_q=0.25/hi_q=0.75 over 1..8 plus a
    NULL, tails clamp to the exact interpolating quartiles, middles
    and NULL pass through."""
    from botkop_telcotraffic_spark_spark.operators.iqr import winsorize

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, None]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, v double"
    )
    out = {
        (r["v"]): (r["v_winsor"], r["was_clamped"])
        for r in winsorize(df, ["g"], "v", 0.25, 0.75).collect()
    }
    # percentile([1..8], .25) = 2.75, .75 = 6.25
    assert out[1.0] == (2.75, True) and out[2.0] == (2.75, True)
    assert out[8.0] == (6.25, True) and out[7.0] == (6.25, True)
    assert out[4.0] == (4.0, False)
    assert out[None] == (None, False)


def test_k_core_hand_graph(spark):
    """graph.py::k_core: triangle+tail graph — the 2-core is exactly
    the triangle (tail peels off, cascading); a 3-core of the same
    graph is empty."""
    from botkop_telcotraffic_spark_spark.operators.graph import k_core

    # triangle 1-2-3 plus chain 3-4-5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "a long, b long"
    )
    core2 = {
        r["node"]: r["degree"] for r in k_core(edges, k=2).collect()
    }
    assert core2 == {1: 2, 2: 2, 3: 2}
    assert k_core(edges, k=3).count() == 0
    with pytest.raises(ValueError):
        k_core(edges, k=0)


def test_k_core_driver_path_matches_distributed(spark):
    """k_core (operators/graph.py, r14): the scale-adaptive driver
    fast path must be bit-identical to the distributed peel loop
    (forced via driver_threshold=0), including the partial-core case
    where ``rounds`` is too small for a cascading chain."""
    from botkop_telcotraffic_spark_spark.operators.graph import k_core

    # triangle + 4-chain (cascading peel) + asymmetric duplicate +
    # square (2-core survivor alongside the triangle)
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (2, 1),
             (7, 8), (8, 9), (9, 10), (10, 7)]
    df = spark.createDataFrame(edges, "a long, b long")
    for k, rounds in ((2, 6), (2, 1), (3, 6)):
        fast = sorted(tuple(r) for r in k_core(df, k=k, rounds=rounds).collect())
        dist = sorted(
            tuple(r)
            for r in k_core(
                df, k=k, rounds=rounds, driver_threshold=0
            ).collect()
        )
        assert fast == dist, f"k={k} rounds={rounds}: {fast} vs {dist}"


def test_rrf_fuse_hand_lists(spark):
    """ranking.py::rrf_fuse: two 3-item lists — the id on top of both
    lists wins; an id in only one list scores a single term."""
    from botkop_telcotraffic_spark_spark.operators.ranking import rrf_fuse

    a = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(10, 1), (30, 2), (40, 3)], "doc_id long, rank int"
    )
    out = {
        r["doc_id"]: (r["n_lists"], r["rrf_score"], r["fused_rank"])
        for r in rrf_fuse([a, b], "doc_id").collect()
    }
    assert out[10] == (2, round(2 / 61, 6), 1)
    assert out[30] == (2, round(1 / 63 + 1 / 62, 6), 2)
    assert out[20][0] == 1 and out[40][0] == 1
    assert out[20] == (1, round(1 / 62, 6), 3)  # id tiebreak over 40? no:
    # 20 scores 1/62 > 40's 1/63, so rank 3 and 4 respectively
    assert out[40] == (1, round(1 / 63, 6), 4)


def test_zipf_slope_synthetic_power_law(spark):
    """text.py::zipf_slope: a corpus built with freq(term_r) ∝ 1/r
    recovers slope ≈ -1 (exact OLS on the planted power law)."""
    from botkop_telcotraffic_spark_spark.operators.text import zipf_slope

    terms = []
    for r in range(1, 51):
        terms += [f"t{r:03d}"] * (1000 // r)
    df = spark.createDataFrame([(" ".join(terms),)], "text string")
    [row] = zipf_slope(df, "text", top_v=50).collect()
    assert row["n_terms"] == 50
    assert abs(row["slope"] + 1.0) < 0.05, row["slope"]


def test_semdedup_hand_clusters(spark):
    """similarity.py::semdedup: identical vectors in the SAME group
    collapse to the min id; the same vector in a DIFFERENT group does
    not (SemDeDup is cluster-scoped by design); a lone orthogonal
    vector keeps itself."""
    from botkop_telcotraffic_spark_spark.operators.similarity import semdedup

    rows = [
        (1, "g1", [1.0, 0.0]),
        (2, "g1", [1.0, 0.0]),       # dup of 1 within g1
        (3, "g1", [0.0, 1.0]),       # orthogonal — unique
        (4, "g2", [1.0, 0.0]),       # same vector, other group: kept
        (5, "g2", [0.99, 0.01]),     # near-dup of 4 within g2
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    out = {
        r["vec_id"]: (r["keep_id"], r["is_kept"])
        for r in semdedup(
            df, "label", "vec_id", "embedding", threshold=0.95
        ).collect()
    }
    assert out[1] == (1, True)
    assert out[2] == (1, False)
    assert out[3] == (3, True)
    assert out[4] == (4, True)
    assert out[5] == (4, False)
    assert len(out) == 5


def test_repeated_substring_spans_hand(spark):
    """dedup.py::repeated_substring_spans: a 4-word phrase planted in
    two docs at different alignments is caught by overlapping 3-grams
    (the alignment-free property fixed spans lack); a unique doc and
    a too-short doc report zeros; islands merge overlapping grams."""
    from botkop_telcotraffic_spark_spark.operators.dedup import (
        repeated_substring_spans,
    )

    common = "the quick brown fox"
    rows = [
        (1, f"alpha {common} jumps high today"),          # 8 words
        (2, f"beta gamma delta {common} runs"),           # 8 words
        (3, "totally unique words nothing shared here"),  # 6 words
        (4, "too short"),                                 # 2 words < k
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in repeated_substring_spans(
            df, "doc_id", "text", gram_words=3
        ).collect()
    }
    # shared 4-word phrase -> two overlapping repeated 3-grams,
    # merged into ONE 4-word span in each doc
    for d, nw in ((1, 8), (2, 8)):
        r = out[d]
        assert (r["n_words"], r["n_dup_grams"], r["n_spans"]) == (nw, 2, 1)
        assert r["dup_words"] == 4
        assert r["dup_frac"] == round(4 / nw, 6)
    assert (out[3]["n_spans"], out[3]["dup_words"], out[3]["dup_frac"]) == (0, 0, 0.0)
    assert (out[4]["n_words"], out[4]["n_spans"], out[4]["dup_frac"]) == (2, 0, 0.0)


def test_dsir_scores_match_python_model(spark):
    """dsir.py::dsir_scores vs an independent pure-python model of the
    hashed-unigram importance ratio (same rolling fingerprint, same
    Laplace smoothing) on a corpus where target and raw slices favor
    different words — target-flavored docs must outscore raw ones."""
    from botkop_telcotraffic_spark_spark.operators.dsir import dsir_scores

    rows = [
        (1, "alpha alpha beta", True),
        (2, "alpha gamma gamma", True),
        (3, "delta delta beta", False),
        (4, "delta epsilon beta", False),
        (5, "alpha alpha alpha", False),   # raw doc with target words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    B, S = 32, 1.0

    def fp(w):
        h = 0
        for ch in w:
            h = (h * 131 + ord(ch)) % 1_000_000_007
        return h

    from collections import Counter
    import math

    raw, tgt = Counter(), Counter()
    for _, text, is_t in rows:
        for w in text.split(" "):
            b = fp(w) % B
            raw[b] += 1
            if is_t:
                tgt[b] += 1
    R, T = sum(raw.values()), sum(tgt.values())
    lr = {
        b: math.log((tgt[b] + S) / (T + S * B))
        - math.log((raw[b] + S) / (R + S * B))
        for b in raw
    }
    expect = {
        d: round(sum(lr[fp(w) % B] for w in text.split(" ")), 6) + 0.0
        for d, text, _ in rows
    }
    out = {
        r["doc_id"]: r["logw"]
        for r in dsir_scores(
            df, "doc_id", "text", F.col("tgt"), buckets=B
        ).collect()
    }
    assert out == pytest.approx(expect, abs=1e-6)
    # target-flavored docs outscore raw-flavored ones
    assert min(out[1], out[2], out[5]) > max(out[3], out[4])
    with pytest.raises(ValueError):
        dsir_scores(df, "doc_id", "text", F.col("tgt"), buckets=1)


def test_cap_per_group_two_phase_exact_and_quota(spark):
    """sampling.py::cap_per_group: the two-phase shard top-k selects
    exactly the rows a single global window would, every group
    respects the quota, and ranks are 1..min(n, n_max)."""
    from pyspark.sql import Window

    from botkop_telcotraffic_spark_spark.operators.sampling import cap_per_group

    rng = random.Random(7)
    rows = [
        (i, f"s{rng.randint(1, 4)}", rng.randint(0, 1000))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, src string, score long")
    out = cap_per_group(
        df, ["src"], 10, "score", tiebreak_col="id", spread=8
    ).collect()
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("id"))
    ref = (
        df.withColumn("group_rank", F.row_number().over(w))
        .where(F.col("group_rank") <= 10)
        .collect()
    )
    assert sorted(map(tuple, out)) == sorted(map(tuple, ref))
    from collections import Counter

    per = Counter(r["src"] for r in out)
    assert all(v <= 10 for v in per.values())
    with pytest.raises(ValueError):
        cap_per_group(df, ["src"], 0, "score")


def test_normalized_exact_dedup_collapses_variants(spark):
    """dedup.py::normalized_exact_dedup: case / punctuation / spacing
    variants share a group with the min id canonical; genuinely
    different text stays its own group."""
    from botkop_telcotraffic_spark_spark.operators.dedup import (
        normalized_exact_dedup,
    )

    rows = [
        (1, "Hello, World!"),
        (2, "hello   world"),
        (3, "HELLO WORLD."),
        (4, "goodbye world"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["group_size"], r["is_canonical"], r["norm_hash"])
        for r in normalized_exact_dedup(df, "doc_id", "text").collect()
    }
    assert out[1][0] == 3 and out[1][1] is True
    assert out[2][0] == 3 and out[2][1] is False
    assert out[3][0] == 3 and out[3][1] is False
    assert out[4][0] == 1 and out[4][1] is True
    assert out[1][2] == out[2][2] == out[3][2] != out[4][2]


def test_simhash_udf_matches_native(spark):
    """dedup.py::simhash_udf (per-row Arrow path for streams) produces
    the EXACT integers of the batch simhash_signatures groupBy on the
    sf0.001 documents fixture."""
    from botkop_telcotraffic_spark_spark.operators.dedup import (
        simhash_signatures,
        simhash_udf,
    )
    from botkop_telcotraffic_spark_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_001

    d = load_table(spark, SF_DIR_001, "documents").limit(50)
    native = {
        r["id"]: r["simhash"]
        for r in simhash_signatures(d, "doc_id", "text", k=3).collect()
    }
    udf_out = {
        r["doc_id"]: r["sh"]
        for r in d.select(
            "doc_id", simhash_udf(3)(F.col("text")).alias("sh")
        ).collect()
    }
    assert native and all(udf_out[i] == v for i, v in native.items())
    # no-shingle doc: native emits NO row; the UDF must return NULL
    # (a 0 signature would claim phantom (band, 0) buckets downstream)
    short = spark.createDataFrame([(99, "too short")], "doc_id long, text string")
    assert simhash_signatures(short, "doc_id", "text", k=3).count() == 0
    [r] = short.select(simhash_udf(3)(F.col("text")).alias("sh")).collect()
    assert r["sh"] is None


def test_jl_project_preserves_distances_on_average(spark):
    """embed.py::jl_project: JL lemma sanity — squared pairwise
    distances survive 64->16 projection within loose tolerance on
    average (exact per-pair distortion is probabilistic; the MEAN
    ratio over many pairs concentrates near 1), and the projection is
    deterministic across runs."""
    from botkop_telcotraffic_spark_spark.operators.embed import jl_project

    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r["proj"]
        for r in jl_project(df, "vec_id", "embedding", 64, 16).collect()
    }
    assert all(len(p) == 16 for p in out.values())
    vecs = dict(rows)
    ratios = []
    for i in range(0, 38, 2):
        a, b = i, i + 1
        d_orig = sum((x - y) ** 2 for x, y in zip(vecs[a], vecs[b]))
        d_proj = sum((x - y) ** 2 for x, y in zip(out[a], out[b]))
        ratios.append(d_proj / d_orig)
    mean_ratio = sum(ratios) / len(ratios)
    assert 0.6 < mean_ratio < 1.4, mean_ratio
    out2 = {
        r["vec_id"]: r["proj"]
        for r in jl_project(df, "vec_id", "embedding", 64, 16).collect()
    }
    assert out == out2
    # all 16 matrix rows are DISTINCT sign patterns: a direct
    # polynomial mod 6 is period-6 in j (rows j and j+6 identical,
    # rank <= 6 — caught in review); the large-prime mix must not be
    from botkop_telcotraffic_spark_spark.operators.embed import JL_A, JL_B, JL_P

    mat = [
        tuple(
            {0: 1, 1: -1}.get((j * JL_A + (d - 1) * JL_B) % JL_P % 6, 0)
            for d in range(1, 65)
        )
        for j in range(16)
    ]
    assert len(set(mat)) == 16, "JL matrix rows must be distinct"
    with pytest.raises(ValueError):
        jl_project(df, out_dim=0)


def test_quantize_int8_hand_values(spark):
    """embed.py::quantize_int8: per-dim corpus maxima drive the
    scales — the max row quantizes to +-127 exactly, proportional
    values land proportionally, an all-zero dim quantizes to 0, and
    reconstruction MSE is small and non-negative."""
    from botkop_telcotraffic_spark_spark.operators.embed import quantize_int8

    rows = [
        (1, [2.0, -4.0, 0.0] + [1.0] * 61),
        (2, [1.0, 2.0, 0.0] + [0.5] * 61),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in quantize_int8(df, "vec_id", "embedding", 64).collect()
    }
    q1, q2 = out[1]["qvec"], out[2]["qvec"]
    # dim 1: max |.| = 2 -> row1 127, row2 round(1*127/2) = 64
    assert (q1[0], q2[0]) == (127, 64)
    # dim 2: max 4 -> -127 and round(2*127/4) = 64
    assert (q1[1], q2[1]) == (-127, 64)
    # all-zero dim
    assert (q1[2], q2[2]) == (0, 0)
    assert q1[3:] == [127] * 61 and q2[3:] == [64] * 61
    for r in out.values():
        assert 0.0 <= r["mse"] < 1e-3


def test_sequence_pattern_counts_hand(spark):
    """funnel.py::sequence_pattern_counts: hand-built sequences —
    v[ce]*p counts non-overlapping view→(clicks/errors)→purchase
    motifs; unmapped types become the default char and break runs;
    ties on ts break by the tiebreak column."""
    from botkop_telcotraffic_spark_spark.operators.funnel import (
        sequence_pattern_counts,
    )

    rows = [
        # user 1: v c c p v p -> 2 matches
        (1, 1, "view"), (1, 2, "click"), (1, 3, "click"), (1, 4, "purchase"),
        (1, 5, "view"), (1, 6, "purchase"),
        # user 2: v c OTHER p -> 'other' breaks the motif -> 0
        (2, 1, "view"), (2, 2, "click"), (2, 3, "other"), (2, 4, "purchase"),
        # user 3: same ts, tiebreak by event_id: v(1) p(2) -> 1 match
        (3, 7, "purchase"), (3, 7, "view"),
    ]
    # encode event_id implicitly as the insertion index for tiebreak
    data = [(u, float(t), i, et) for i, (u, t, et) in enumerate(rows)]
    # user 3: make view's tiebreak SMALLER than purchase's at equal ts
    df = spark.createDataFrame(
        [(3, 7.0, 0, "view"), (3, 7.0, 1, "purchase")]
        + [d for d in data if d[0] != 3],
        "user_id long, ts double, event_id long, event_type string",
    )
    out = {
        r["user_id"]: (r["seq_len"], r["n_matches"])
        for r in sequence_pattern_counts(
            df, "user_id", "event_type", "ts", r"v[ce]*p",
            {"view": "v", "click": "c", "purchase": "p", "error": "e"},
            tiebreak_col="event_id",
        ).collect()
    }
    assert out[1] == (6, 2)
    assert out[2] == (4, 0)
    assert out[3] == (2, 1)


def test_percentile_normalize_matches_percent_rank(spark):
    """encode.py::percentile_normalize: the distinct-value
    decomposition equals percent_rank() OVER (PARTITION BY g ORDER BY
    v) exactly (incl. ties and 1-row groups); NULL values pass
    through with NULL percentile."""
    from pyspark.sql import Window

    from botkop_telcotraffic_spark_spark.operators.encode import (
        percentile_normalize,
    )

    rng = random.Random(3)
    rows = [
        (i, f"g{rng.randint(1, 3)}",
         float(rng.choice([1, 2, 2, 3, 5, 8])))
        for i in range(60)
    ] + [(100, "g9", 4.0), (101, "g1", None),
         (102, None, 1.0), (103, None, 2.0)]  # NULL group key IS a group
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {
        r["id"]: r["pctile"]
        for r in percentile_normalize(df, ["g"], "v").collect()
    }
    w = Window.partitionBy("g").orderBy("v")
    ref = {
        r["id"]: round(r["pr"], 6) + 0.0
        for r in df.where(F.col("v").isNotNull())
        .withColumn("pr", F.percent_rank().over(w))
        .collect()
    }
    assert out[101] is None
    assert out[100] == 0.0  # single-row group
    assert (out[102], out[103]) == (0.0, 1.0)  # null-safe join back
    for i, p in ref.items():
        assert out[i] == pytest.approx(p, abs=1e-9), i
    assert len(out) == len(rows)


def test_cross_corpus_overlap_planted_and_hot_token_cap(spark):
    """contamination.py::cross_corpus_overlap: a planted shared
    passage links exactly its pair with the right shared count and
    fractions; a boilerplate shingle in every doc is killed by
    max_token_freq without destroying the true pair."""
    from botkop_telcotraffic_spark_spark.operators.contamination import (
        cross_corpus_overlap,
    )

    shared = "alpha beta gamma delta epsilon"
    left = spark.createDataFrame(
        [(1, f"{shared} unique left tail words here"),
         (2, "completely different content on this side")],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(10, f"prefix words then {shared} closing"),
         (11, "nothing in common with anything at all")],
        "doc_id long, text string",
    )
    out = cross_corpus_overlap(
        left, right, "doc_id", "text", k=3, min_shared=2
    ).collect()
    assert len(out) == 1
    r = out[0]
    # shared passage has 3 distinct 3-shingles
    assert (r["a_id"], r["b_id"], r["n_shared"]) == (1, 10, 3)
    assert r["size_a"] == 8 and r["size_b"] == 7
    assert r["frac_a"] == 0.375 and r["frac_b"] == round(3 / 7, 6)
    # hot-token cap: capping df at 1 kills every shared token
    out2 = cross_corpus_overlap(
        left, right, "doc_id", "text", k=3, min_shared=1,
        max_token_freq=1,
    ).collect()
    assert out2 == []


def test_assemble_transcripts_budget_and_order(spark):
    """chunking.py::assemble_transcripts: recency-first truncation
    under the token budget, chronological emission, oversized-newest
    edge case, and tiebreak determinism at equal timestamps."""
    from botkop_telcotraffic_spark_spark.operators.chunking import (
        assemble_transcripts,
    )

    rows = [
        # user 1: 3 msgs x 2 tokens; budget 4 keeps the 2 newest
        (1, 1.0, 1, "a1 x"), (1, 2.0, 2, "b1 x"), (1, 3.0, 3, "c1 x"),
        # user 2: newest alone overflows budget -> nothing kept
        (2, 1.0, 4, "short one"), (2, 2.0, 5, "f g h i j k"),
        # user 3: equal ts, tiebreak desc keeps higher event_id first
        (3, 5.0, 6, "old m"), (3, 5.0, 7, "new m"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts double, event_id long, msg string"
    )
    out = {
        r["user_id"]: r
        for r in assemble_transcripts(
            df, "user_id", "ts", "msg", max_tokens=4,
            tiebreak_col="event_id",
        ).collect()
    }
    assert (out[1]["n_msgs"], out[1]["n_kept"], out[1]["tokens_kept"]) == (3, 2, 4)
    assert out[1]["transcript"] == "b1 x\nc1 x"
    assert (out[2]["n_kept"], out[2]["transcript"]) == (0, "")
    # budget 4 fits both 2-token messages of user 3, ordered by
    # (ts, event_id) ascending in the transcript
    assert out[3]["transcript"] == "old m\nnew m" and out[3]["n_kept"] == 2


def test_dp_counts_deterministic_noise_properties(spark):
    """privacy.py::dp_counts: released counts differ from true counts
    by Laplace-scaled noise (|noise| averages ~1/eps across groups,
    loose bound), identical across re-runs, fresh under a new salt,
    NULL group keys tolerated, eps <= 0 rejected."""
    from botkop_telcotraffic_spark_spark.operators.privacy import dp_counts

    rows = [(f"g{i % 40}",) for i in range(4000)] + [(None,)] * 25
    df = spark.createDataFrame(rows, "g string")
    true = {"g%d" % i: 100 for i in range(40)}
    true[None] = 25
    out1 = {r["g"]: r["n_noisy"] for r in dp_counts(df, ["g"], epsilon=1.0).collect()}
    out2 = {r["g"]: r["n_noisy"] for r in dp_counts(df, ["g"], epsilon=1.0).collect()}
    assert out1 == out2 and len(out1) == 41
    noises = [abs(out1[g] - n) for g, n in true.items()]
    assert 0 < sum(noises) / len(noises) < 5  # E|Laplace(1)| = 1
    assert max(noises) > 0.05  # noise actually applied
    fresh = {r["g"]: r["n_noisy"] for r in dp_counts(df, ["g"], epsilon=1.0, salt="dp2:").collect()}
    assert fresh != out1
    with pytest.raises(ValueError):
        dp_counts(df, ["g"], epsilon=0.0)


def test_dp_counts_key_injective_across_columns(spark):
    """dp_counts: multi-column groups whose bare concatenation
    collides — ('x','yz') vs ('xy','z') — must receive DIFFERENT
    noise draws (length-prefixed seed key; review finding)."""
    from botkop_telcotraffic_spark_spark.operators.privacy import dp_counts

    df = spark.createDataFrame(
        [("x", "yz")] * 50 + [("xy", "z")] * 50, "a string, b string"
    )
    out = {(r["a"], r["b"]): r["n_noisy"] for r in dp_counts(df, ["a", "b"]).collect()}
    n1, n2 = out[("x", "yz")], out[("xy", "z")]
    # identical true counts, so equal noise would mean equal release
    assert n1 != n2


def test_cuped_adjust_matches_python_and_reduces_variance(spark):
    """experiment.py::cuped_adjust vs a pure-python CUPED model on a
    correlated synthetic panel: per-arm means/variances match, the
    adjusted mean stays (approximately) the raw mean, and planted
    corr(x,y) ~ 0.9 yields large variance reduction; a NULL-covariate
    unit passes through unadjusted."""
    from botkop_telcotraffic_spark_spark.operators.experiment import (
        cuped_adjust,
    )

    rng = random.Random(5)
    rows = []
    for i in range(400):
        x = rng.gauss(10, 3)
        y = 2.0 * x + rng.gauss(0, 2) + (1.0 if i % 2 == 0 else 0.0)
        rows.append((i, "A" if i % 2 == 0 else "B", float(x), float(y)))
    rows.append((1000, "A", None, 50.0))
    df = spark.createDataFrame(rows, "uid long, arm string, x double, y double")
    out = {r["arm"]: r for r in cuped_adjust(df, "y", "x", "arm").collect()}

    xs = [x for _, _, x, _ in rows if x is not None]
    pairs = [(x, y) for _, _, x, y in rows if x is not None]
    mx = sum(xs) / len(xs)
    vx = sum((x - mx) ** 2 for x in xs) / len(xs)
    my = sum(y for _, y in pairs) / len(pairs)
    cxy = sum((x - mx) * (y - my) for x, y in pairs) / len(pairs)
    theta = cxy / vx
    model = {}
    for arm in ("A", "B"):
        ys, adjs = [], []
        for _, a, x, y in rows:
            if a != arm:
                continue
            ys.append(y)
            adjs.append(y if x is None else y - theta * (x - mx))
        m_y = sum(ys) / len(ys)
        m_a = sum(adjs) / len(adjs)
        v_y = sum((v - m_y) ** 2 for v in ys) / len(ys)
        v_a = sum((v - m_a) ** 2 for v in adjs) / len(adjs)
        model[arm] = (len(ys), m_y, m_a, v_y, v_a)
    for arm in ("A", "B"):
        n, m_y, m_a, v_y, v_a = model[arm]
        r = out[arm]
        assert r["n"] == n
        assert r["mean_y"] == pytest.approx(m_y, abs=1e-5)
        assert r["mean_cuped"] == pytest.approx(m_a, abs=1e-5)
        assert r["var_y"] == pytest.approx(v_y, abs=1e-4)
        assert r["var_cuped"] == pytest.approx(v_a, abs=1e-4)
        assert r["var_reduction"] > 0.5  # corr ~ 0.9 -> big win


def test_kaplan_meier_matches_lifelines_convention(spark):
    """survival.py::kaplan_meier vs the hand-computed product-limit
    on the classic toy: durations [1,2+,3,4+,5] ('+' = censored) —
    censored-at-t still at risk AT t; a time where everyone dies
    zeroes the curve permanently."""
    from botkop_telcotraffic_spark_spark.operators.survival import kaplan_meier

    rows = [
        (1.0, True), (2.0, False), (3.0, True), (4.0, False), (5.0, True),
    ]
    df = spark.createDataFrame(rows, "dur double, obs boolean")
    out = {r["t"]: r for r in kaplan_meier(df, "dur", "obs").collect()}
    # t=1: n=5, d=1 -> S=4/5; t=3: n=3, d=1 -> S=4/5*2/3; t=5: n=1,d=1 -> 0
    assert set(out) == {1.0, 3.0, 5.0}
    assert (out[1.0]["at_risk"], out[1.0]["deaths"]) == (5, 1)
    assert out[1.0]["survival"] == 0.8
    assert (out[3.0]["at_risk"], out[3.0]["deaths"]) == (3, 1)
    assert out[3.0]["survival"] == round(0.8 * 2 / 3, 6)
    assert (out[5.0]["at_risk"], out[5.0]["survival"]) == (1, 0.0)


def test_geohash_sql_known_values(spark):
    """functions/geo.py::geohash_sql (spark dialect) reproduces
    published geohash values: (57.64911, 10.40744) -> u4pruyd,
    (0, 0) -> s000000, and the clamped poles stay in range."""
    from botkop_telcotraffic_spark_spark.functions.geo import geohash_sql

    df = spark.createDataFrame(
        [(1, 57.64911, 10.40744), (2, 0.0, 0.0), (3, 90.0, 180.0),
         (4, -90.0, -180.0)],
        "id long, lat double, lng double",
    )
    out = {
        r["id"]: r["gh"]
        for r in df.select(
            "id", F.expr(geohash_sql("lat", "lng", 7, "spark")).alias("gh")
        ).collect()
    }
    assert out[1] == "u4pruyd"
    assert out[2] == "s000000"  # 0,0 hashes into the 's' cell
    assert out[3] == "z" * 7 and out[4] == "0" * 7


def test_conformal_intervals_hand_and_small_group(spark):
    """experiment.py::conformal_intervals: hand-checkable order
    statistic — 9 calibration residuals, alpha=0.1 -> k=9 -> q_hat =
    the largest; coverage counted with <=; a 2-row group cannot
    support the level (k=3>2) -> NULL q_hat, zero covered."""
    from botkop_telcotraffic_spark_spark.operators.experiment import (
        conformal_intervals,
    )

    cal_rows = [("g", float(i), 0.0, i) for i in range(1, 10)]  # residuals 1..9
    cal_rows += [("tiny", 1.0, 0.0, 100), ("tiny", 2.0, 0.0, 101)]
    cal = spark.createDataFrame(
        cal_rows, "grp string, actual double, pred double, rid long"
    )
    test_rows = [("g", 5.0, 0.0, 1), ("g", 9.0, 0.0, 2), ("g", 9.5, 0.0, 3),
                 ("tiny", 1.0, 0.0, 4)]
    test = spark.createDataFrame(
        test_rows, "grp string, actual double, pred double, rid long"
    )
    out = {
        r["grp"]: r
        for r in conformal_intervals(
            cal, test, "pred", "actual", ["grp"], alpha=0.1,
            tiebreak_col="rid",
        ).collect()
    }
    g = out["g"]
    # k = ceil(10 * 0.9) = 9 -> q_hat = 9.0; residuals 5, 9 covered, 9.5 not
    assert (g["n_cal"], g["q_hat"]) == (9, 9.0)
    assert (g["n_test"], g["covered"]) == (3, 2)
    assert g["coverage"] == round(2 / 3, 6)
    t = out["tiny"]
    assert t["q_hat"] is None and t["covered"] == 0
    with pytest.raises(ValueError):
        conformal_intervals(cal, test, "pred", "actual", ["grp"], alpha=1.5)


def test_msprt_matches_python_and_detects_effect(spark):
    """experiment.py::msprt_test vs the closed-form python mixture
    LR: a planted large effect drives p_always -> ~0; a null effect
    keeps p_always high; values match the formula exactly."""
    import math

    from botkop_telcotraffic_spark_spark.operators.experiment import msprt_test

    rng = random.Random(9)
    effect_rows = [(i, "A", rng.gauss(10, 1)) for i in range(300)] + [
        (i + 1000, "B", rng.gauss(12, 1)) for i in range(300)
    ]
    df = spark.createDataFrame(effect_rows, "id long, arm string, y double")
    [r] = msprt_test(df, "y", "arm", "A", "B", tau2=1.0).collect()

    ys_a = [y for _, a, y in effect_rows if a == "A"]
    ys_b = [y for _, a, y in effect_rows if a == "B"]
    na, nb = len(ys_a), len(ys_b)
    ma, mb = sum(ys_a) / na, sum(ys_b) / nb
    va = sum((v - ma) ** 2 for v in ys_a) / na
    vb = sum((v - mb) ** 2 for v in ys_b) / nb
    s2 = (na * va + nb * vb) / (na + nb)
    V = s2 * (1 / na + 1 / nb)
    theta = mb - ma
    lam = math.sqrt(V / (V + 1.0)) * math.exp(
        theta * theta / (2 * V * (V + 1.0))
    )
    assert r["n_control"] == na and r["n_treatment"] == nb
    assert r["effect"] == pytest.approx(theta, abs=1e-5)
    assert r["p_always"] == pytest.approx(min(1.0, 1 / lam), abs=1e-5)
    assert r["p_always"] < 1e-4  # planted 2-sigma effect detected

    null_rows = [(i, "A" if i % 2 else "B", rng.gauss(10, 1)) for i in range(600)]
    df0 = spark.createDataFrame(null_rows, "id long, arm string, y double")
    [r0] = msprt_test(df0, "y", "arm", "A", "B").collect()
    assert r0["p_always"] > 0.05  # no effect -> no (confident) rejection
    with pytest.raises(ValueError):
        msprt_test(df0, "y", "arm", "A", "B", tau2=0)


def test_geohash_sql_null_coordinates_null_both_dialects(spark):
    """geohash_sql: NULL lat/lng yields NULL in BOTH dialects (Spark
    concat NULL-propagates, DuckDB concat skips NULLs — the guard
    pins them equal; review finding)."""
    import duckdb

    from botkop_telcotraffic_spark_spark.functions.geo import geohash_sql

    df = spark.createDataFrame(
        [(1, None, 10.0), (2, 10.0, None)],
        "id long, lat double, lng double",
    )
    rows = df.select(
        F.expr(geohash_sql("lat", "lng", 5, "spark")).alias("gh")
    ).collect()
    assert all(r["gh"] is None for r in rows)
    got = duckdb.sql(
        "SELECT " + geohash_sql("CAST(NULL AS DOUBLE)", "10.0", 5, "duckdb")
    ).fetchone()[0]
    assert got is None


def test_quantile_match_hand_values(spark):
    """encode.py::quantile_match: two groups with disjoint ranges map
    onto the pooled distribution at their own percentiles — hand
    percent_rank math; NULL passes through."""
    from botkop_telcotraffic_spark_spark.operators.encode import quantile_match

    rows = [(i, "A", float(v)) for i, v in enumerate([1, 2, 3, 4])] + [
        (10 + i, "B", float(v)) for i, v in enumerate([10, 20, 30, 40])
    ] + [(99, "A", None)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {
        r["id"]: r["matched"]
        for r in quantile_match(df, ["g"], "v").collect()
    }
    # global order: 1,2,3,4,10,20,30,40 (n=8, gp = below/7)
    # p=0 -> 1; p=1/3 -> min gp>=1/3 is 4 (3/7); p=2/3 -> 20 (5/7); p=1 -> 40
    assert [out[0], out[1], out[2], out[3]] == [1.0, 4.0, 20.0, 40.0]
    assert [out[10], out[11], out[12], out[13]] == [1.0, 4.0, 20.0, 40.0]
    assert out[99] is None
    assert len(out) == 9


def test_benford_screen_hand_counts(spark):
    """profile.py::benford_screen: leading digits from the integer
    rendering (123.4->1, 0.05->5, -20->2), zeros-at-scale excluded,
    expected/contrib match the closed form."""
    import math

    from botkop_telcotraffic_spark_spark.operators.profile import benford_screen

    rows = [(123.4,), (0.05,), (-20.0,), (1.0,), (0.0,), (None,), (9e-9,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r for r in benford_screen(df, "v").collect()}
    # 9e-9 * 1e6 = 0.009 -> floor 0 -> excluded; 0.0 excluded; None excluded
    # All 9 digit rows emitted (spine); unseen digits observed=0 with a
    # full (0-e)^2/e = e chi-square contribution.
    assert sorted(out) == list(range(1, 10))
    assert {d: out[d]["observed"] for d in out if out[d]["observed"]} == {
        1: 2,
        5: 1,
        2: 1,
    }
    n = 4
    for d in range(1, 10):
        e = n * math.log10(1 + 1 / d)
        assert out[d]["expected"] == pytest.approx(round(e, 6), abs=1e-6)
        o = out[d]["observed"]
        assert out[d]["contrib"] == pytest.approx(round((o - e) ** 2 / e, 6), abs=1e-6)


def test_sign_pack_and_hamming_hand(spark):
    """embed.py::sign_pack / hamming_topk: hand-checked bit packs and
    XOR+popcount distances on 4-dim vectors (packed as 2-dim halves)."""
    from botkop_telcotraffic_spark_spark.operators.embed import (
        hamming_topk,
        sign_pack,
    )

    rows = [
        (0, [1.0, -1.0, 1.0, 1.0]),   # bits lo=01 hi=11 -> w_lo 1, w_hi 3
        (1, [1.0, 1.0, -1.0, 1.0]),   # lo=11 hi=10 -> w_lo 3, w_hi 2
        (2, [-1.0, -1.0, 0.0, -1.0]), # lo=00 hi=00 (0 not > 0)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    packed = {r["vec_id"]: r for r in sign_pack(df, dim=4).collect()}
    assert (packed[0]["w_lo"], packed[0]["w_hi"]) == (1, 3)
    assert (packed[1]["w_lo"], packed[1]["w_hi"]) == (3, 2)
    assert (packed[2]["w_lo"], packed[2]["w_hi"]) == (0, 0)
    # hamming(0,1) = popcount(1^3) + popcount(3^2) = 1 + 1 = 2
    # hamming(0,2) = popcount(1) + popcount(3) = 1 + 2 = 3
    out = hamming_topk(df.where(F.col("vec_id") == 0), df, dim=4, k=2).collect()
    got = {(r["neighbor_id"]): (r["hamming"], r["rank"]) for r in out}
    assert got == {1: (2, 1), 2: (3, 2)}


def test_matryoshka_norms_hand(spark):
    """embed.py::matryoshka_norms: |x[1..k]|/|x| for a known vector."""
    from botkop_telcotraffic_spark_spark.operators.embed import (
        matryoshka_norms,
    )

    df = spark.createDataFrame(
        [(0, [3.0, 4.0, 0.0, 12.0])], "vec_id int, embedding array<double>"
    )
    out = {
        r["prefix_dim"]: r
        for r in matryoshka_norms(df, dim=4, prefixes=(2, 3)).collect()
    }
    # |x| = 13; |x[1..2]| = 5; |x[1..3]| = 5
    assert out[2]["mean_frac"] == pytest.approx(5 / 13, abs=1e-6)
    assert out[3]["mean_frac"] == pytest.approx(5 / 13, abs=1e-6)
    assert out[2]["n"] == 1 and out[2]["min_frac"] == out[2]["p10_frac"]


def test_vocab_coverage_hand(spark):
    """text.py::vocab_coverage: counts, deterministic tie ranks, and
    cumulative coverage on a 3-doc corpus."""
    from botkop_telcotraffic_spark_spark.operators.text import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b a  c"), (3, "c")],
        "doc_id int, text string",
    )
    out = vocab_coverage(docs, "doc_id", "text", top_n=10).collect()
    rows = [(r["rank"], r["token"], r["cnt"], r["cum_frac"]) for r in out]
    # counts: a=3, b=2, c=2 -> b before c on the tie (token asc); 7 total
    assert rows == [
        (1, "a", 3, pytest.approx(3 / 7, abs=1e-6)),
        (2, "b", 2, pytest.approx(5 / 7, abs=1e-6)),
        (3, "c", 2, pytest.approx(1.0, abs=1e-6)),
    ]


def test_gini_concentration_hand(spark):
    """profile.py::gini_concentration: 0 for uniform weights, 0.75
    for one-holder-takes-all among 4."""
    from botkop_telcotraffic_spark_spark.operators.profile import (
        gini_concentration,
    )

    rows = [("u", 5), ("u", 5), ("u", 5), ("u", 5),
            ("s", 0), ("s", 0), ("s", 0), ("s", 10)]
    df = spark.createDataFrame(rows, "g string, w int")
    out = {r["g"]: r for r in gini_concentration(df, ["g"], "w").collect()}
    assert out["u"]["gini"] == pytest.approx(0.0, abs=1e-6)
    assert out["s"]["gini"] == pytest.approx(0.75, abs=1e-6)
    assert out["s"]["total"] == 10.0 and out["s"]["n"] == 4


def test_pq_codes_perfect_reconstruction_when_k_covers_points(spark):
    """embed.py::pq_codes: with <= k distinct subvectors per subspace
    the codebook converges onto the points themselves -> mse 0 and
    stable codes; dim % m validated."""
    from botkop_telcotraffic_spark_spark.operators.embed import pq_codes

    rows = [
        (0, [0.0, 0.0, 1.0, 1.0]),
        (1, [1.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {r["vec_id"]: r for r in pq_codes(df, dim=4, m=2, codebook_k=4,
                                            iterations=2).collect()}
    assert out[0]["mse"] == pytest.approx(0.0, abs=1e-9)
    assert out[1]["mse"] == pytest.approx(0.0, abs=1e-9)
    # identical vectors share codes
    assert (out[0]["code0"], out[0]["code1"]) == (out[2]["code0"], out[2]["code1"])
    # distinct subvectors get distinct codes
    assert out[0]["code0"] != out[1]["code0"]

    with pytest.raises(ValueError):
        pq_codes(df, dim=4, m=3)


def test_pq_codes_mse_recovers_signal(spark):
    """PQ at 4 bits/subspace must reconstruct a nonzero share of
    signal power even on near-random fixture embeddings (the
    information-theoretic worst case for VQ): mse strictly below the
    zero-vector baseline (mean squared norm / dim), and positive."""
    from botkop_telcotraffic_spark_spark.operators.embed import pq_codes
    from botkop_telcotraffic_spark_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_001

    emb = load_table(spark, SF_DIR_001, "embeddings")
    out = pq_codes(emb, dim=64, m=4, codebook_k=16, iterations=2)
    row = out.agg(F.avg("mse").alias("avg_mse")).collect()[0]
    norms = emb.selectExpr(
        "avg(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * x), "
        "CAST(0.0 AS DOUBLE), (a, b) -> a + b) / 64) AS msn"
    ).collect()[0]
    assert 0.0 < row["avg_mse"] < 0.8 * norms["msn"]


def test_bpe_merges_classic_corpus(spark):
    """bpe.py::bpe_merges on the Sennrich toy corpus: es -> est ->
    est</w> -> lo -> low, deterministic tie order."""
    from botkop_telcotraffic_spark_spark.operators.bpe import bpe_merges

    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    out = [
        (r["step"], r["left"], r["right"], r["merged"], r["cnt"])
        for r in bpe_merges(df, "text", n_merges=5).collect()
    ]
    assert out == [
        (1, "e", "s", "es", 9),
        (2, "es", "t", "est", 9),
        (3, "est", "</w>", "est</w>", 9),
        (4, "l", "o", "lo", 7),
        (5, "lo", "w", "low", 7),
    ]


def test_bpe_merges_single_pass_semantics(spark):
    """The documented single-pass rule on a repeated-symbol chain:
    merging (a,a) over 'aaaa' consumes the shared separator, so ONE
    round merges only the FIRST occurrence (aa + a + a), not two —
    the deviation from classic BPE the module docstring documents.
    Counts at pick time still see all 3 adjacencies per word."""
    from botkop_telcotraffic_spark_spark.operators.bpe import bpe_merges

    df = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id int, text string")
    out = [
        (r["step"], r["left"], r["right"], r["merged"], r["cnt"])
        for r in bpe_merges(df, "text", n_merges=2).collect()
    ]
    # round 1: pairs in a-a-a-a-</w>: (a,a)x3 + (a,</w>), x2 words
    assert out[0] == (1, "a", "a", "aa", 6)
    # after the single-pass merge each word is aa-a-a-</w>; round-2
    # candidates all count 2, lexicographic pick -> (a, </w>)
    assert out[1] == (2, "a", "</w>", "a</w>", 2)


def test_bpe_sample_fraction_determinism_and_subset(spark):
    """The sample_fraction knob (SCALE.md "Distributed BPE"): (a) the
    hash-sample is DETERMINISTIC — identical merge tables across runs
    and partitionings (no RNG, no partition dependence); (b) subset
    semantics — training with the sample predicate equals training on
    the manually pre-filtered corpus, for both the xxhash64(text)
    fast path and the portable keyed (rolling-fingerprint) path."""
    from botkop_telcotraffic_spark_spark.operators.bpe import bpe_merges
    from botkop_telcotraffic_spark_spark.operators.sampling import hash_bucket
    from pyspark.sql import functions as F

    # scattered ids: the polynomial fold maps a short CONTIGUOUS id
    # range onto adjacent buckets (documented short-key property of
    # hash_bucket), which would make a toy 0..59 corpus sample to
    # all-or-nothing; varied-magnitude ids behave like real corpora
    rows = [
        (i * 7919 % 100003, f"alpha beta{i % 7} gamma delta{i % 5} epsilon zeta{i % 3}")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    def tbl(d, **kw):
        return [tuple(r) for r in bpe_merges(d, "text", n_merges=4, **kw).collect()]

    # (a) determinism across partitionings, both sample paths
    for kw in (
        {"sample_fraction": 0.5},
        {"sample_fraction": 0.5, "sample_key_col": "doc_id"},
    ):
        a = tbl(df, **kw)
        b = tbl(df.repartition(7, "doc_id"), **kw)
        assert a == b and len(a) == 4, (kw, a, b)

    # (b) subset semantics: sampled training == training on the
    # manually-filtered corpus (same predicate applied by hand)
    denom = 1 << 20
    manual_x = df.where(
        F.pmod(F.xxhash64(F.col("text")), F.lit(denom)) < F.lit(int(0.5 * denom))
    )
    assert tbl(df, sample_fraction=0.5) == tbl(manual_x)
    n_x = manual_x.count()
    assert 0 < n_x < 60, n_x

    manual_k = df.where(hash_bucket(F.col("doc_id"), 10_000, salt="bpe:") < 5000)
    assert tbl(df, sample_fraction=0.5, sample_key_col="doc_id") == tbl(manual_k)
    n_k = manual_k.count()
    assert 0 < n_k < 60, n_k

    # fraction 1.0 / None are the identical full-corpus path
    assert tbl(df, sample_fraction=1.0) == tbl(df)


def test_kmv_sketch_merge_invariant_and_accuracy(spark):
    """sketch.py::kmv_*: (a) union-of-partial-sketches == one-shot
    sketch (the mergeability invariant, same as the HLL test), (b)
    unsaturated sketches are EXACT, (c) saturated estimate lands
    within 3x sigma ~ 1/sqrt(k) of truth."""
    from botkop_telcotraffic_spark_spark.operators.sketch import (
        kmv_build,
        kmv_estimate,
        kmv_merge,
    )

    n = 5000
    df = spark.createDataFrame(
        [(i % 4, i) for i in range(n)], "part int, v long"
    )
    k = 64
    # one-shot over everything
    one = kmv_build(df.withColumn("g", F.lit(1)), ["g"], "v", k=k)
    # partial per part, merged up
    parts = kmv_build(df.withColumn("g", F.lit(1)), ["g", "part"], "v", k=k)
    merged = kmv_merge(parts, ["g"], k=k)
    a = one.collect()[0]["kmv"]
    b = merged.collect()[0]["kmv"]
    assert a == b  # lossless pre-aggregation
    est = kmv_estimate(one, k=k).collect()[0]
    assert est["n_kept"] == k
    assert abs(est["est_distinct"] - n) / n < 3 / (k ** 0.5)
    # unsaturated -> exact
    small = kmv_build(
        df.where(F.col("v") < 10).withColumn("g", F.lit(1)), ["g"], "v", k=k
    )
    s = kmv_estimate(small, k=k).collect()[0]
    assert s["n_kept"] == 10 and s["est_distinct"] == 10.0


def test_wav_roundtrip_and_features(spark):
    """multimodal.py WAV codec: encode->decode round-trips exact
    samples; features hand-checked on a square wave."""
    from botkop_telcotraffic_spark_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    # square wave: +100 x4, -100 x4, repeated
    samples = ([100] * 4 + [-100] * 4) * 32  # 256 samples
    wav = encode_wav(samples, sample_rate=8000)
    d = decode_wav(wav)
    assert d["n_samples"] == 256 and d["sample_rate"] == 8000
    assert d["duration_ms"] == pytest.approx(32.0)
    assert d["rms"] == pytest.approx(100.0)
    assert d["peak"] == 100
    # sign flips at every 4-sample boundary: 63 interior flips / 255
    assert d["zcr"] == pytest.approx(round(63 / 255, 6), abs=1e-6)
    # clamping
    clipped = decode_wav(encode_wav([40000, -40000]))
    assert clipped["peak"] == 32768  # -32768 clamps, abs = 32768

    with pytest.raises(NotImplementedError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVEjunk")


def test_audio_features_distributed(spark):
    """synth_audio + audio_features over a DataFrame: Arrow-batched
    mapInPandas path yields per-id deterministic features."""
    from botkop_telcotraffic_spark_spark.operators.multimodal import (
        audio_features,
        synth_audio,
    )

    df = spark.range(4).select(F.col("id").alias("media_id"))
    out = {r["media_id"]: r for r in
           audio_features(synth_audio(df, "media_id")).collect()}
    assert set(out) == {0, 1, 2, 3}
    # id 0: samples ((i*17) % 201) - 100, reproduced in python
    s = [((i * 17) % 201) - 100 for i in range(256)]
    import math
    rms = round(math.sqrt(sum(x * x for x in s) / 256), 6)
    assert out[0]["rms"] == pytest.approx(rms, abs=1e-6)
    assert out[0]["n_samples"] == 256


def test_fellegi_sunter_weights_and_bands(spark):
    """fuzzy.py::fellegi_sunter_score: hand-checked weights on one
    agree-all and one disagree-all pair, three-band decisions."""
    import math

    from botkop_telcotraffic_spark_spark.operators.fuzzy import (
        fellegi_sunter_score,
    )

    pairs = spark.createDataFrame(
        [(1, 1, True, True), (1, 2, False, False), (1, 3, True, False)],
        "a int, b int, f1 boolean, f2 boolean",
    )
    out = {
        (r["a"], r["b"]): r
        for r in fellegi_sunter_score(
            pairs,
            {
                "f1": (F.col("f1"), 0.9, 0.1),
                "f2": (F.col("f2"), 0.8, 0.2),
            },
            upper=5.0,
            lower=0.0,
        ).collect()
    }
    w1a, w1d = math.log2(9), math.log2(0.1 / 0.9)
    w2a, w2d = math.log2(4), math.log2(0.2 / 0.8)
    assert out[(1, 1)]["score"] == pytest.approx(round(w1a + w2a, 6))
    assert out[(1, 1)]["decision"] == "match"        # 3.17+2 = 5.17 >= 5
    assert out[(1, 2)]["score"] == pytest.approx(round(w1d + w2d, 6))
    assert out[(1, 2)]["decision"] == "non-match"
    assert out[(1, 3)]["score"] == pytest.approx(round(w1a + w2d, 6))
    assert out[(1, 3)]["decision"] == "possible"     # 3.17-2 = 1.17
    assert out[(1, 3)]["f1_agree"] and not out[(1, 3)]["f2_agree"]


def test_bpe_token_counts_classic(spark):
    """bpe.py::bpe_token_counts on the Sennrich corpus: after the
    est/low merges, 'low' is 1 token + </w>? No — the word rep keeps
    its own </w> symbol, so 'low' -> [low, </w>] = 2 tokens after
    merge 5 with n_merges=5."""
    from botkop_telcotraffic_spark_spark.operators.bpe import (
        bpe_token_counts,
    )

    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    out = bpe_token_counts(df, "doc_id", "text", n_merges=5).collect()[0]
    assert out["n_words"] == 16
    # merges: es, est, est</w>, lo, low
    # low -> low ␟ </w> (2); lower -> low e r </w> (4);
    # newest -> n e w est</w> (4); widest -> w i d est</w> (4)
    assert out["n_tokens"] == 5 * 2 + 2 * 4 + 6 * 4 + 3 * 4


def test_adamic_adar_hand_graph(spark):
    """Path graph 1-2-3 plus hub 4 connected to all: AA(1,3) through
    center 2 (deg 2 after hub removal? no — degrees count ALL edges);
    verify against a hand union of wedge contributions."""
    from botkop_telcotraffic_spark_spark.operators.graph import adamic_adar

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (2, 4), (3, 4)], "src int, dst int"
    )
    out = {
        (r["a"], r["b"]): r
        for r in adamic_adar(edges, max_center_degree=64).collect()
    }
    # non-adjacent pairs: only (1, 3).  Common neighbors: 2 (deg 3)
    # and 4 (deg 3) -> AA = 2 / ln(3); common_neighbors = 2.
    assert set(out) == {(1, 3)}
    r = out[(1, 3)]
    assert r["common_neighbors"] == 2
    assert r["aa_score"] == pytest.approx(2.0 / math.log(3.0), abs=1e-6)


def test_adamic_adar_hub_cap_drops_center(spark):
    """A center above max_center_degree generates NO wedges — the
    documented quadratic-bulk cut."""
    from botkop_telcotraffic_spark_spark.operators.graph import adamic_adar

    star = [(0, i) for i in range(1, 6)]  # hub 0, degree 5
    edges = spark.createDataFrame(star, "src int, dst int")
    assert adamic_adar(edges, max_center_degree=4).count() == 0
    # raising the cap re-admits the hub: C(5,2) leaf pairs appear
    assert adamic_adar(edges, max_center_degree=5).count() == 10


def test_psi_identical_slices_near_zero(spark):
    """PSI of a distribution against itself is ~0 (exactly 0 up to
    smoothing asymmetry when slice sizes are equal)."""
    from botkop_telcotraffic_spark_spark.operators.drift import psi_drift

    rng = random.Random(7)
    rows = []
    for i in range(400):
        v = rng.uniform(0, 100)
        rows.append(("k", v, i % 2 == 0))
        rows.append(("k", v, i % 2 == 1))  # mirrored -> identical slices
    df = spark.createDataFrame(rows, "k string, v double, b boolean")
    out = psi_drift(df, ["k"], "v", F.col("b"), bins=10).collect()
    assert len(out) == 1
    assert out[0]["psi"] == pytest.approx(0.0, abs=1e-9)
    assert out[0]["n_a"] == 400 and out[0]["n_b"] == 400


def test_psi_shifted_slices_positive(spark):
    from botkop_telcotraffic_spark_spark.operators.drift import psi_drift

    rng = random.Random(8)
    rows = [("k", rng.uniform(0, 50), False) for _ in range(300)] + [
        ("k", rng.uniform(50, 100), True) for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "k string, v double, b boolean")
    out = psi_drift(df, ["k"], "v", F.col("b"), bins=10).collect()[0]
    assert out["psi"] > 0.25  # disjoint supports -> strong drift


def test_bh_adjust_matches_hand_stepup(spark):
    """Classic BH example: p = (.01, .02, .03, .04, .05) with m=5 ->
    q = (.05, .05, .05, .05, .05); and a textbook non-monotone case
    where the suffix-min flattens q."""
    from botkop_telcotraffic_spark_spark.operators.experiment import bh_adjust

    df = spark.createDataFrame(
        [("a", 0.01), ("b", 0.02), ("c", 0.03), ("d", 0.04), ("e", 0.05)],
        "g string, p double",
    )
    out = {r["g"]: r for r in bh_adjust(df, ["g"], "p").collect()}
    for g in "abcde":
        assert out[g]["q_value"] == pytest.approx(0.05)
        assert out[g]["discovery"] is True
    # non-monotone raw p*m/i: p=(.001, .4, .41) -> raw (.003, .6, .41)
    # -> q = (.003, .41, .41) via suffix min
    df2 = spark.createDataFrame(
        [("x", 0.001), ("y", 0.4), ("z", 0.41)], "g string, p double"
    )
    out2 = {r["g"]: r for r in bh_adjust(df2, ["g"], "p").collect()}
    assert out2["x"]["q_value"] == pytest.approx(0.003)
    assert out2["y"]["q_value"] == pytest.approx(0.41)
    assert out2["z"]["q_value"] == pytest.approx(0.41)
    assert out2["x"]["discovery"] and not out2["y"]["discovery"]


def test_normal_sf_matches_python_erfc(spark):
    """A&S 26.2.17 vs math.erfc within the published 7.5e-8 bound."""
    from botkop_telcotraffic_spark_spark.operators.experiment import normal_sf

    zs = [0.0, 0.5, 1.0, 1.644854, 1.959964, 2.575829, 4.0]
    df = spark.createDataFrame([(z,) for z in zs], "z double")
    out = df.select("z", normal_sf(F.col("z")).alias("sf")).collect()
    for r in out:
        exact = 0.5 * math.erfc(r["z"] / math.sqrt(2.0))
        assert r["sf"] == pytest.approx(exact, abs=7.5e-8)


def test_autocorrelation_matches_numpy_model(spark):
    """ACF of a known AR-ish sequence vs a pure-python Box-Jenkins
    reference (same biased estimator)."""
    from botkop_telcotraffic_spark_spark.operators.timeseries import (
        autocorrelation,
    )

    rng = random.Random(11)
    xs = []
    prev = 0.0
    for _ in range(200):
        prev = 0.7 * prev + rng.gauss(0, 1)
        xs.append(prev)
    df = spark.createDataFrame(
        [("k", i, x) for i, x in enumerate(xs)], "k string, t int, x double"
    )
    out = {
        r["lag"]: r["acf"]
        for r in autocorrelation(df, ["k"], "t", "x", max_lag=3).collect()
    }
    mean = sum(xs) / len(xs)
    den = sum((x - mean) ** 2 for x in xs)
    for k in (1, 2, 3):
        num = sum(
            (xs[t] - mean) * (xs[t + k] - mean) for t in range(len(xs) - k)
        )
        assert out[k] == pytest.approx(num / den, abs=1e-6)
    assert out[1] > 0.5  # AR(0.7) autocorrelates strongly at lag 1


def test_interarrival_regular_vs_bursty(spark):
    from botkop_telcotraffic_spark_spark.operators.timeseries import (
        interarrival_stats,
    )

    rows = [("reg", float(10 * i), i) for i in range(50)]
    # bursty: pairs close together, long silences between pairs
    t, bid = 0.0, 0
    bursty = []
    for i in range(25):
        bursty.append(("burst", t, bid)); bid += 1
        bursty.append(("burst", t + 0.1, bid)); bid += 1
        t += 100.0
    df = spark.createDataFrame(
        rows + bursty, "k string, ts double, i int"
    )
    out = {
        r["k"]: r
        for r in interarrival_stats(
            df, ["k"], "ts", order_cols=["i"]
        ).collect()
    }
    assert out["reg"]["cv"] == pytest.approx(0.0, abs=1e-9)
    assert out["reg"]["mean_gap_s"] == pytest.approx(10.0)
    assert out["reg"]["lambda_per_s"] == pytest.approx(0.1)
    assert out["burst"]["cv"] > 0.9
    assert out["reg"]["n_gaps"] == 49 and out["burst"]["n_gaps"] == 49


def test_mutual_information_independent_vs_dependent(spark):
    from botkop_telcotraffic_spark_spark.operators.profile import (
        mutual_information,
    )

    # perfectly dependent: y == x over 4 symbols, uniform -> MI = 2 bits
    dep = spark.createDataFrame(
        [(str(i % 4), i % 4) for i in range(400)], "x string, y int"
    )
    mi_dep = (
        mutual_information(dep, "x", "y")
        .agg(F.sum("mi_term").alias("mi"))
        .collect()[0]["mi"]
    )
    assert mi_dep == pytest.approx(2.0, abs=1e-4)
    # independent uniform 4x4 grid -> MI = 0
    ind = spark.createDataFrame(
        [(str(i % 4), (i // 4) % 4) for i in range(400)], "x string, y int"
    )
    mi_ind = (
        mutual_information(ind, "x", "y")
        .agg(F.sum("mi_term").alias("mi"))
        .collect()[0]["mi"]
    )
    assert mi_ind == pytest.approx(0.0, abs=1e-4)


def test_mutual_information_null_category_kept(spark):
    from botkop_telcotraffic_spark_spark.operators.profile import (
        mutual_information,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", None), (None, 1), (None, None)],
        "x string, y int",
    )
    out = mutual_information(df, "x", "y")
    assert out.count() == 4  # every (x, y) cell kept, NULLs included
    assert out.where(F.col("x").isNull()).count() == 2


def test_haversine_known_distance(spark):
    """Paris (48.8566, 2.3522) - London (51.5074, -0.1278) ≈ 343.5 km."""
    from botkop_telcotraffic_spark_spark.operators.trajectory import (
        haversine_sql,
    )

    df = spark.createDataFrame(
        [(48.8566, 2.3522, 51.5074, -0.1278)],
        "lat1 double, lng1 double, lat2 double, lng2 double",
    )
    d = df.select(
        F.expr(haversine_sql("lat1", "lng1", "lat2", "lng2")).alias("d")
    ).collect()[0]["d"]
    assert d == pytest.approx(343.5, abs=1.0)


def test_trajectory_speeds_flags(spark):
    from botkop_telcotraffic_spark_spark.operators.trajectory import (
        trajectory_speeds,
    )

    rows = [
        ("u", 0.0, 0.0, 0.0, 1),
        ("u", 3600.0, 1.0, 0.0, 2),   # 1 deg lat in 1h ≈ 111 km/h
        ("u", 3600.0, 5.0, 0.0, 3),   # teleport: zero time, ~445 km
        ("u", 7200.0, 50.0, 0.0, 4),  # 45 deg lat in 1h ≈ 5000 km/h
    ]
    df = spark.createDataFrame(
        rows, "k string, t double, lat double, lng double, i int"
    )
    out = {
        r["i"]: r
        for r in trajectory_speeds(
            df, ["k"], "t", "lat", "lng", order_cols=["i"]
        ).collect()
    }
    assert set(out) == {2, 3, 4}  # 3 segments from 4 fixes
    assert out[2]["speed_kmh"] == pytest.approx(111.195, abs=0.1)
    assert out[2]["impossible"] is False
    assert out[3]["gap_s"] == 0.0 and out[3]["impossible"] is True
    assert out[3]["speed_kmh"] is None  # zero-time: speed undefined
    assert out[4]["impossible"] is True


def test_od_flows_hand(spark):
    from botkop_telcotraffic_spark_spark.operators.trajectory import od_flows

    rows = [
        ("u1", 1.0, "A", 1), ("u1", 2.0, "B", 2), ("u1", 3.0, "B", 3),
        ("u1", 4.0, "A", 4),  # u1: A->B (dwell dropped), B->A
        ("u2", 1.0, "A", 5), ("u2", 2.0, "B", 6),  # u2: A->B
    ]
    df = spark.createDataFrame(
        rows, "k string, t double, cell string, i int"
    )
    out = {
        (r["from_cell"], r["to_cell"]): r
        for r in od_flows(
            df, ["k"], "t", "cell", order_cols=["i"]
        ).collect()
    }
    assert out[("A", "B")]["n_trips"] == 2
    assert out[("A", "B")]["n_keys"] == 2
    assert out[("B", "A")]["n_trips"] == 1
    assert out[("B", "A")]["n_keys"] == 1


def test_theil_sen_robust_to_outlier(spark):
    from botkop_telcotraffic_spark_spark.operators.timeseries import theil_sen

    pts = [("k", float(i), 2.0 * i + 1.0) for i in range(30)]
    pts[29] = ("k", 29.0, 1000.0)  # one corrupted high-leverage point
    df = spark.createDataFrame(pts, "k string, x double, y double")
    out = theil_sen(df, ["k"], "x", "y", max_pair_lag=10).collect()[0]
    assert out["slope"] == pytest.approx(2.0, abs=1e-6)
    assert out["intercept"] == pytest.approx(1.0, abs=1e-6)
    # OLS on the same data is yanked far off 2.0 by the outlier
    from botkop_telcotraffic_spark_spark.operators.timeseries import trend_ols

    ols = trend_ols(df, ["k"], "x", "y").collect()[0]
    assert abs(ols["slope"] - 2.0) > 0.5


def test_heaps_fit_extremes(spark):
    from botkop_telcotraffic_spark_spark.operators.text import heaps_fit

    # every token globally unique -> V(N) = N -> beta ~ 1
    uniq = spark.createDataFrame(
        [(i, f"w{4*i} w{4*i+1} w{4*i+2} w{4*i+3}") for i in range(256)],
        "doc_id long, text string",
    )
    b1 = heaps_fit(uniq, "doc_id", "text", buckets=32).collect()[0]
    assert b1["beta"] == pytest.approx(1.0, abs=1e-6)
    assert b1["r2"] == pytest.approx(1.0, abs=1e-6)
    # closed vocabulary -> V constant after bucket 1 -> beta ~ 0
    closed = spark.createDataFrame(
        [(i, "a b c d") for i in range(256)],
        "doc_id long, text string",
    )
    b0 = heaps_fit(closed, "doc_id", "text", buckets=32).collect()[0]
    assert abs(b0["beta"]) < 0.01
    # a constant curve has no r2, whatever the partial-sum order
    assert b0["r2"] is None


def test_column_entropy_hand(spark):
    from botkop_telcotraffic_spark_spark.operators.profile import (
        column_entropy,
    )

    df = spark.createDataFrame(
        [(str(i % 4), "c", None if i % 2 else "x") for i in range(400)],
        "u string, const string, halfnull string",
    )
    out = {r["col"]: r for r in column_entropy(df, ["u", "const", "halfnull"]).collect()}
    assert out["u"]["entropy_bits"] == pytest.approx(2.0)  # uniform 4-way
    assert out["u"]["n_distinct"] == 4
    assert out["const"]["entropy_bits"] == pytest.approx(0.0)
    assert out["const"]["top_freq_ratio"] == pytest.approx(1.0)
    # NULL is a category: 50/50 split -> 1 bit
    assert out["halfnull"]["entropy_bits"] == pytest.approx(1.0)
    assert out["halfnull"]["n_distinct"] == 2


def test_mobility_metrics_hand(spark):
    from botkop_telcotraffic_spark_spark.operators.trajectory import (
        mobility_metrics,
    )

    rows = (
        [("home", 10.0, 20.0, "A")] * 8
        # roamer: 50/50 between two cells 1 deg of lat apart at lat 0
        + [("roam", 0.0, 0.0, "A")] * 4
        + [("roam", 1.0, 0.0, "B")] * 4
    )
    df = spark.createDataFrame(
        rows, "k string, lat double, lng double, cell string"
    )
    out = {
        r["k"]: r
        for r in mobility_metrics(df, ["k"], "lat", "lng", "cell").collect()
    }
    assert out["home"]["radius_gyration_km"] == 0.0
    assert out["home"]["location_entropy_bits"] == 0.0
    assert out["home"]["n_cells"] == 1
    # var_pop(lat) of 4x0 + 4x1 = 0.25 -> rg = 0.5 * 111.32 km
    assert out["roam"]["radius_gyration_km"] == pytest.approx(
        0.5 * 111.32, abs=1e-4
    )
    assert out["roam"]["location_entropy_bits"] == pytest.approx(1.0)
    assert out["roam"]["n_cells"] == 2


def test_clustering_coefficient_hand(spark):
    from botkop_telcotraffic_spark_spark.operators.graph import (
        clustering_coefficient,
    )

    # triangle 1-2-3 plus pendant 4 attached to 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], "src int, dst int"
    )
    out = {
        r["node"]: r for r in clustering_coefficient(edges).collect()
    }
    # node 1: d=3, T=1 -> 2/(3*2) = 1/3; nodes 2,3: d=2, T=1 -> 1.0
    assert out[1]["coeff"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[2]["coeff"] == 1.0 and out[3]["coeff"] == 1.0
    assert 4 not in out  # degree 1: no neighbor pair to close


def test_grid_density_clusters_two_blobs(spark):
    from botkop_telcotraffic_spark_spark.operators.graph import (
        grid_density_clusters,
    )

    rng = random.Random(3)
    blob1 = [(rng.uniform(0, 2), rng.uniform(0, 2)) for _ in range(60)]
    blob2 = [(rng.uniform(50, 52), rng.uniform(50, 52)) for _ in range(60)]
    noise = [(float(100 + 7 * i), float(100 + 11 * i)) for i in range(10)]
    df = spark.createDataFrame(
        blob1 + blob2 + noise, "x double, y double"
    )
    out = grid_density_clusters(df, "x", "y", cell_size=1.0, min_pts=5).collect()
    clusters = {r["cluster"] for r in out}
    assert len(clusters) == 2  # two dense blobs
    # noise cells (1 point each) never reach min_pts
    assert all(r["n_points"] >= 5 for r in out)
    # cells of the same blob share a label, across blobs differ
    lab = {}
    for r in out:
        blob = 1 if r["cx"] < 25 else 2
        lab.setdefault(blob, set()).add(r["cluster"])
    assert len(lab[1]) == 1 and len(lab[2]) == 1


def test_dwell_times_hand(spark):
    from botkop_telcotraffic_spark_spark.operators.trajectory import (
        dwell_times,
    )

    # u: A(0) A(10) B(30) B(40) A(100)  -> visits: A 0-30, B 30-100;
    # final A visit open -> censored out
    rows = [
        ("u", 0.0, "A", 1), ("u", 10.0, "A", 2), ("u", 30.0, "B", 3),
        ("u", 40.0, "B", 4), ("u", 100.0, "A", 5),
        # v stays in A forever: single open visit, no output
        ("v", 0.0, "A", 6), ("v", 50.0, "A", 7),
    ]
    df = spark.createDataFrame(rows, "k string, t double, cell string, i int")
    out = {
        r["cell"]: r
        for r in dwell_times(df, ["k"], "t", "cell", order_cols=["i"]).collect()
    }
    assert out["A"]["n_visits"] == 1 and out["A"]["mean_dwell_s"] == 30.0
    assert out["B"]["n_visits"] == 1 and out["B"]["mean_dwell_s"] == 70.0
    assert set(out) == {"A", "B"}


def test_anchor_cells_hand(spark):
    import datetime as dt

    from botkop_telcotraffic_spark_spark.operators.trajectory import (
        anchor_cells,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    # nights at cell H (lat 0), days at cell W (lat 0.9 ≈ 100 km away)
    for d in range(3):
        rows.append(("u", base + dt.timedelta(days=d, hours=2), 0.0, 0.0, "H"))
        rows.append(("u", base + dt.timedelta(days=d, hours=11), 0.9, 0.0, "W"))
    # one stray night fix elsewhere: H still wins 3-1
    rows.append(("u", base + dt.timedelta(hours=3), 5.0, 5.0, "X"))
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, lat double, lng double, cell string"
    )
    out = anchor_cells(df, ["k"], "ts", "lat", "lng", "cell").collect()
    assert len(out) == 1
    r = out[0]
    assert r["home_cell"] == "H" and r["work_cell"] == "W"
    assert r["n_home_fixes"] == 3 and r["n_work_fixes"] == 3
    assert r["commute_km"] == pytest.approx(0.9 * 111.19, abs=0.5)


def test_degree_assortativity_star_vs_clique(spark):
    from botkop_telcotraffic_spark_spark.operators.graph import (
        degree_assortativity,
    )

    # star: hub degree 5 pairs with leaves degree 1 -> r = -1
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src int, dst int"
    )
    r_star = degree_assortativity(star).collect()[0]
    assert r_star["assortativity"] == pytest.approx(-1.0, abs=1e-6)
    assert r_star["n_edges"] == 5
    # clique: all degrees equal -> zero variance -> NULL
    clique = spark.createDataFrame(
        [(i, j) for i in range(4) for j in range(i + 1, 4)],
        "src int, dst int",
    )
    r_cl = degree_assortativity(clique).collect()[0]
    assert r_cl["assortativity"] is None


def test_hits_hand_bipartite(spark):
    import math

    from botkop_telcotraffic_spark_spark.operators.graph import hits

    # 1 -> {10, 11}, 2 -> {10}; two unrolled iterations by hand:
    #   a1 ∝ (2, 1)/√5, h1 ∝ (3, 2)/√13,
    #   a2 ∝ (5, 3)/√34, h2 ∝ (8, 5)/√89
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], "src int, dst int"
    )
    out = {
        (r["kind"], r["node"]): r["score"]
        for r in hits(edges, iterations=2).collect()
    }
    assert out[("hub", 1)] == pytest.approx(8 / math.sqrt(89), abs=1e-6)
    assert out[("hub", 2)] == pytest.approx(5 / math.sqrt(89), abs=1e-6)
    assert out[("authority", 10)] == pytest.approx(
        5 / math.sqrt(34), abs=1e-6
    )
    assert out[("authority", 11)] == pytest.approx(
        3 / math.sqrt(34), abs=1e-6
    )


def test_transition_entropy_commuter_vs_roamer(spark):
    from botkop_telcotraffic_spark_spark.operators.trajectory import (
        transition_entropy,
    )

    # commuter: A,B,A,B,A -> every context deterministic -> 0 bits
    # roamer:   A,B,A,C,A -> H = p(A)*1 + p(B)*0 + p(C)*0 = 0.5 bits
    rows = [("c", float(i), c) for i, c in enumerate("ABABA")]
    rows += [("r", float(i), c) for i, c in enumerate("ABACA")]
    df = spark.createDataFrame(rows, "k string, t double, cell string")
    out = {
        r["k"]: r
        for r in transition_entropy(df, ["k"], "t", "cell").collect()
    }
    assert out["c"]["cond_entropy_bits"] == pytest.approx(0.0, abs=1e-9)
    assert out["c"]["n_transitions"] == 4 and out["c"]["n_contexts"] == 2
    assert out["r"]["cond_entropy_bits"] == pytest.approx(0.5, abs=1e-9)
    assert out["r"]["n_transitions"] == 4 and out["r"]["n_contexts"] == 3
    # self-loops dropped: a key that never moves emits no row
    still = spark.createDataFrame(
        [("s", 0.0, "A"), ("s", 1.0, "A")], "k string, t double, cell string"
    )
    assert transition_entropy(still, ["k"], "t", "cell").count() == 0


def test_pingpong_handovers_hand(spark):
    from botkop_telcotraffic_spark_spark.operators.trajectory import (
        pingpong_handovers,
    )

    rows = [
        # u1: A->B->A fast bounce (counts), then B->C->B too slow
        ("u1", 0.0, "A"), ("u1", 10.0, "B"), ("u1", 20.0, "A"),
        ("u1", 1000.0, "B"), ("u1", 1500.0, "C"), ("u1", 2000.0, "B"),
        # u2: A->B->A fast bounce on the same pair
        ("u2", 0.0, "A"), ("u2", 5.0, "B"), ("u2", 9.0, "A"),
        # u3: A->A->A self-loop run, never a bounce
        ("u3", 0.0, "A"), ("u3", 1.0, "A"), ("u3", 2.0, "A"),
    ]
    df = spark.createDataFrame(rows, "k string, t double, cell string")
    out = {
        (r["cell_a"], r["cell_b"]): r
        for r in pingpong_handovers(
            df, ["k"], "t", "cell", max_gap_s=100.0
        ).collect()
    }
    assert set(out) == {("A", "B")}
    assert out[("A", "B")]["n_pingpongs"] == 2
    assert out[("A", "B")]["n_keys"] == 2


def test_route_motifs_hand(spark):
    from botkop_telcotraffic_spark_spark.operators.trajectory import (
        route_motifs,
    )

    # two users travel A->B->C; one continues C->D; self-loop steps
    # (B->B) break the chain
    rows = [
        ("u1", 0.0, "A"), ("u1", 1.0, "B"), ("u1", 2.0, "C"),
        ("u1", 3.0, "D"),
        ("u2", 0.0, "A"), ("u2", 1.0, "B"), ("u2", 2.0, "B"),
        ("u2", 3.0, "C"),
    ]
    df = spark.createDataFrame(rows, "k string, t double, cell string")
    out = {
        (r["c1"], r["c2"], r["c3"]): (r["n_trips"], r["n_keys"])
        for r in route_motifs(df, ["k"], "t", "cell", top_n=5).collect()
    }
    # u2's A,B,B,C yields no motif (B->B self-loop in both triples)
    assert out == {("A", "B", "C"): (1, 1), ("B", "C", "D"): (1, 1)}


def test_page_hinkley_level_shift(spark):
    from botkop_telcotraffic_spark_spark.operators.timeseries import (
        page_hinkley,
    )

    # flat at 0 for 20 points, then a +10 shift: PH climbs after the
    # shift and crosses a small lambda; no alarm on the flat prefix
    rows = [("k", float(i), 0.0) for i in range(20)]
    rows += [("k", float(20 + i), 10.0) for i in range(20)]
    df = spark.createDataFrame(rows, "k string, o double, x double")
    r = page_hinkley(df, ["k"], "o", "x", delta=0.0, lam=20.0).collect()[0]
    assert r["n_obs"] == 40
    assert r["n_alarms"] > 0
    assert r["first_alarm_o"] > 20.0  # fires only after the shift
    assert r["max_ph"] > 20.0
    # pure noise-free flat series never alarms
    flat = spark.createDataFrame(
        [("k", float(i), 5.0) for i in range(30)],
        "k string, o double, x double",
    )
    rf = page_hinkley(flat, ["k"], "o", "x", lam=1.0).collect()[0]
    assert rf["n_alarms"] == 0 and rf["first_alarm_o"] is None
    assert rf["max_ph"] == 0.0


def test_cross_correlation_shifted_series(spark):
    from botkop_telcotraffic_spark_spark.operators.timeseries import (
        cross_correlation,
    )

    # y is x delayed by 2 steps: ccf peaks (=1) at lag 2... x leads y,
    # so corr(x_t, y_{t+2}) = corr(x_t, x_t) = 1
    import math

    xs = [math.sin(i / 3.0) for i in range(40)]
    rows = [
        ("k", float(i), xs[i], xs[i - 2] if i >= 2 else None)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "k string, o double, x double, y double")
    out = {
        r["lag"]: r["ccf"]
        for r in cross_correlation(
            df, ["k"], "o", "x", "y", max_lag=3
        ).collect()
    }
    assert out[2] == pytest.approx(1.0, abs=1e-6)
    assert out[0] < out[2] and out[1] < out[2] and out[3] < out[2]


def test_flesch_readability_hand(spark):
    from botkop_telcotraffic_spark_spark.operators.text import (
        flesch_readability,
    )

    df = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),
            (2, ""),  # zero words -> NULL flesch
            (3, "no terminal punctuation here"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in flesch_readability(df, "doc_id", "text").collect()}
    r1 = out[1]
    # words: the,cat,sat,the,dog,ran = 6; sentences: '.'+'!' runs = 2;
    # vowel groups: e,a,a,e,o,a = 6 -> flesch = 206.835-1.015*3-84.6*1
    assert r1["n_words"] == 6 and r1["n_sentences"] == 2
    assert r1["n_syllables"] == 6
    assert r1["flesch"] == pytest.approx(206.835 - 3.045 - 84.6, abs=1e-6)
    assert out[2]["flesch"] is None and out[2]["n_sentences"] == 1
    assert out[3]["n_sentences"] == 1  # floored at 1


def test_erlang_b_known_table_values(spark):
    from botkop_telcotraffic_spark_spark.operators.telecom import (
        erlang_b_blocking,
    )

    # classic Erlang-B table points: B(E=1, m=1) = 0.5,
    # B(E=2, m=2) = 2/5, B(E=1, m=2) = 0.2, B(E=0, m) = 0
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 0.0)], "id int, e double"
    )
    out = {
        r["id"]: r["blocking"]
        for r in erlang_b_blocking(df, "e", channels=2).collect()
    }
    assert out[1] == pytest.approx(0.2, abs=1e-9)       # (1/2)/(1+1+1/2)
    assert out[2] == pytest.approx(0.4, abs=1e-9)       # 2/(1+2+2)
    assert out[3] == pytest.approx(0.0, abs=1e-12)
    # recursion sanity at m=1: B(1,1) = (1/1)/(1+1) = 0.5
    one = erlang_b_blocking(
        spark.createDataFrame([(1, 1.0)], "id int, e double"),
        "e",
        channels=1,
    ).collect()[0]
    assert one["blocking"] == pytest.approx(0.5, abs=1e-9)


def test_erlang_b_sql_matches_duckdb(spark):
    import duckdb

    from botkop_telcotraffic_spark_spark.operators.telecom import (
        erlang_b_sql,
    )

    expr = erlang_b_sql("CAST(e AS DOUBLE)", 3)
    con = duckdb.connect()
    for e in (0.5, 1.0, 2.7, 10.0):
        want = con.execute(
            f"SELECT {expr} FROM (SELECT {e} AS e)"
        ).fetchone()[0]
        got = (
            spark.createDataFrame([(e,)], "e double")
            .selectExpr(f"{expr} AS b")
            .collect()[0]["b"]
        )
        assert got == want  # bit-identical, not approx


def test_jain_fairness_even_vs_skewed(spark):
    from botkop_telcotraffic_spark_spark.operators.telecom import (
        jain_fairness,
    )

    even = spark.createDataFrame([(10.0,)] * 4, "x double")
    r = jain_fairness(even, "x").collect()[0]
    assert r["jain"] == pytest.approx(1.0, abs=1e-9) and r["n"] == 4
    skew = spark.createDataFrame(
        [(100.0,), (0.0,), (0.0,), (0.0,)], "x double"
    )
    assert jain_fairness(skew, "x").collect()[0]["jain"] == pytest.approx(
        0.25, abs=1e-9
    )


def test_busy_hour_argmax_and_tiebreak(spark):
    import datetime as dt

    from botkop_telcotraffic_spark_spark.operators.telecom import busy_hour

    base = dt.datetime(2024, 1, 1)
    rows = [("c", base.replace(hour=9)), ("c", base.replace(hour=9)),
            ("c", base.replace(hour=17)),
            # cell "t": tie between hours 3 and 5 -> earliest (3) wins
            ("t", base.replace(hour=5)), ("t", base.replace(hour=3))]
    df = spark.createDataFrame(rows, "cell string, ts timestamp")
    out = {r["cell"]: r for r in busy_hour(df, ["cell"], "ts").collect()}
    assert out["c"]["busy_hour"] == 9 and out["c"]["n_busy"] == 2
    assert out["c"]["busy_share"] == pytest.approx(2 / 3, abs=1e-6)
    assert out["t"]["busy_hour"] == 3


def test_dau_wau_stickiness_hand(spark):
    import datetime as dt

    from botkop_telcotraffic_spark_spark.operators.telecom import (
        dau_wau_stickiness,
    )

    mon = dt.datetime(2024, 1, 1)  # a Monday
    rows = []
    # week 1: u1 active Mon+Tue, u2 active Mon -> days: Mon dau=2,
    # Tue dau=1 -> avg_dau=1.5, wau=2, stickiness=0.75
    rows += [(1, mon), (2, mon), (1, mon + dt.timedelta(days=1))]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    r = dau_wau_stickiness(df, "user_id", "ts").collect()[0]
    assert r["n_days"] == 2 and r["wau"] == 2
    assert r["avg_dau"] == pytest.approx(1.5, abs=1e-9)
    assert r["stickiness"] == pytest.approx(0.75, abs=1e-9)


def test_erlang_c_known_values(spark):
    from botkop_telcotraffic_spark_spark.operators.telecom import (
        erlang_c_waiting,
    )

    # M/M/2 with E=1: C = (1^2/2! * 2/(2-1)) / (1 + 1 + same) = 1/3;
    # saturation (E >= m) pins p_wait at 1
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 5.0), (4, 0.0)], "id int, e double"
    )
    out = {
        r["id"]: r["p_wait"]
        for r in erlang_c_waiting(df, "e", channels=2).collect()
    }
    assert out[1] == pytest.approx(1 / 3, abs=1e-6)
    assert out[2] == 1.0 and out[3] == 1.0
    assert out[4] == pytest.approx(0.0, abs=1e-12)


def test_rfm_scores_hand(spark):
    import datetime as dt

    from botkop_telcotraffic_spark_spark.operators.customer import (
        rfm_scores,
    )

    d0 = dt.date(1995, 1, 1)
    rows = []
    # five customers with strictly increasing recency/frequency/spend
    for i in range(5):
        for j in range(i + 1):  # frequency 1..5
            rows.append(
                (i, d0 + dt.timedelta(days=30 * i), 100.0 * (i + 1))
            )
    df = spark.createDataFrame(
        rows, "c int, d date, amt double"
    )
    out = {r["key"]: r for r in rfm_scores(df, "c", "d", "amt").collect()}
    # customer 4: most recent, most frequent, biggest spend -> "555"
    assert out[4]["rfm"] == "555"
    assert out[0]["rfm"] == "111"
    # monotone scores
    for i in range(4):
        assert out[i]["r_score"] <= out[i + 1]["r_score"]
        assert out[i]["f_score"] <= out[i + 1]["f_score"]
        assert out[i]["m_score"] <= out[i + 1]["m_score"]


def test_growth_accounting_lifecycle(spark):
    import datetime as dt

    from botkop_telcotraffic_spark_spark.operators.customer import (
        growth_accounting,
    )

    mon = dt.datetime(2024, 1, 1)  # Monday
    wk = lambda k: mon + dt.timedelta(weeks=k)
    rows = []
    # u1: weeks 0,1,3 -> new@0, retained@1, churn@2, resurrected@3, churn@4
    for k in (0, 1, 3):
        rows.append((1, wk(k)))
    # u2: week 0 only -> new@0, churn@1
    rows.append((2, wk(0)))
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = {r["week"]: r for r in growth_accounting(df, "user_id", "ts").collect()}
    r0 = out[wk(0)]
    assert (r0["n_active"], r0["n_new"], r0["n_churned"]) == (2, 2, 0)
    r1 = out[wk(1)]
    assert (r1["n_active"], r1["n_retained"], r1["n_churned"]) == (1, 1, 1)
    r2 = out[wk(2)]  # churn-only week
    assert (r2["n_active"], r2["n_churned"]) == (0, 1)
    r3 = out[wk(3)]
    assert (r3["n_active"], r3["n_resurrected"]) == (1, 1)
    r4 = out[wk(4)]  # trailing churn week past last activity
    assert (r4["n_active"], r4["n_churned"]) == (0, 1)
    # identity: actives = new + retained + resurrected each week
    for r in out.values():
        assert r["n_active"] == r["n_new"] + r["n_retained"] + r["n_resurrected"]


def test_diff_in_diff_hand(spark):
    from botkop_telcotraffic_spark_spark.operators.experiment import diff_in_diff

    # control: 10 -> 12 (trend +2); treated: 20 -> 25 (trend +5); DiD = 3
    rows = (
        [(0, 0, 9.0), (0, 0, 11.0), (0, 1, 11.0), (0, 1, 13.0)]
        + [(1, 0, 19.0), (1, 0, 21.0), (1, 1, 24.0), (1, 1, 26.0)]
    )
    df = spark.createDataFrame(rows, "arm int, period int, y double")
    r = diff_in_diff(df, "arm", "period", "y").collect()[0]
    assert r["mean_00"] == 10.0 and r["mean_11"] == 25.0
    assert r["did"] == 3.0
    # each cell: var = 2, n = 2 -> se = sqrt(4 * 2/2) = 2
    assert r["se"] == 2.0

    # any cell with < 2 obs: no row
    df2 = spark.createDataFrame(rows[1:], "arm int, period int, y double")
    assert diff_in_diff(df2, "arm", "period", "y").count() == 0


def test_mde_two_arm_formula(spark):
    import math

    from botkop_telcotraffic_spark_spark.operators.experiment import mde_two_arm

    # two arms x 50 obs, deviations exactly ±2 around each arm mean:
    # per-arm SS = 50·4 = 200, pooled var = 400/98
    rows = [("g", 0, 10.0 + (2.0 if i % 2 else -2.0)) for i in range(50)]
    rows += [("g", 1, 12.0 + (2.0 if i % 2 else -2.0)) for i in range(50)]
    df = spark.createDataFrame(rows, "g string, arm int, y double")
    r = mde_two_arm(df, ["g"], "arm", "y").collect()[0]
    pooled_sd = math.sqrt(400 / 98)
    want = (1.959964 + 0.841621) * pooled_sd * math.sqrt(1 / 50 + 1 / 50)
    assert abs(r["sd_pooled"] - pooled_sd) < 1e-6
    assert abs(r["mde"] - want) < 1e-6


def test_kmv_set_ops_exact_below_k(spark):
    from botkop_telcotraffic_spark_spark.operators.sketch import (
        kmv_build,
        kmv_set_ops,
    )

    # A = {1..30}, B = {21..50}: union 50, intersection 10 — all
    # unsaturated at k=64, so estimates collapse to exact values
    rows = [("a", i) for i in range(1, 31)] + [("b", i) for i in range(21, 51)]
    df = spark.createDataFrame(rows, "s string, v int")
    sk = kmv_build(df, ["s"], "v", k=64)
    a = sk.where(F.col("s") == "a").drop("s")
    b = sk.where(F.col("s") == "b").drop("s")
    r = kmv_set_ops(a, b, keys=[], k=64).collect()[0]
    assert r["n_union_kept"] == 50 and r["n_both_kept"] == 10
    assert r["est_union"] == 50.0 and r["est_intersect"] == 10.0
    assert r["est_jaccard"] == 0.2


def test_conversion_lag_first_to_first_after(spark):
    from botkop_telcotraffic_spark_spark.operators.funnel import conversion_lag

    rows = [
        # user 1: click@10, purchase@25 -> lag 15s; later purchase ignored
        (1, "2024-01-01 00:00:10", "click", 1),
        (1, "2024-01-01 00:00:25", "purchase", 2),
        (1, "2024-01-01 00:00:50", "purchase", 3),
        # user 2: purchase BEFORE any click -> not a conversion;
        # click@30 then purchase@40 -> lag 10s
        (2, "2024-01-01 00:00:05", "purchase", 4),
        (2, "2024-01-01 00:00:30", "click", 5),
        (2, "2024-01-01 00:00:40", "purchase", 6),
        # user 3: click only -> no row
        (3, "2024-01-01 00:00:01", "click", 7),
    ]
    df = spark.createDataFrame(
        rows, "u int, ts string, t string, eid int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r["u"]: r["lag_us"]
        for r in conversion_lag(df, "u", "ts", "t", "click", "purchase", "eid").collect()
    }
    assert got == {1: 15_000_000, 2: 10_000_000}


def test_anova_oneway_known_decomposition(spark):
    from botkop_telcotraffic_spark_spark.operators.experiment import anova_oneway

    # groups a=(1,3), b=(5,7): grand mean 4, SSB = 2*(2-4)^2 + 2*(6-4)^2
    # = 16, SSW = 2 + 2 = 4, eta2 = 0.8, F = (16/1)/(4/2) = 8
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0), ("b", 7.0)], "g string, y double"
    )
    r = anova_oneway(df, "g", "y").collect()[0]
    assert (r["k"], r["n"]) == (2, 4)
    assert r["ss_between"] == 16.0 and r["ss_within"] == 4.0
    assert r["eta_sq"] == 0.8 and r["f_stat"] == 8.0

    # single group: dropped
    one = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, y double")
    assert anova_oneway(one, "g", "y").count() == 0


# ---------------------------------------------------------------------------
# round-6 wave 1: Holt, WOE/IV, Cramér's V, Mann-Whitney AUC, calibration


def test_holt_linear_matches_pure_python(spark):
    from botkop_telcotraffic_spark_spark.operators.timeseries import holt_linear

    xs = [10.0, 12.0, 13.0, 15.5, 14.0, 16.25]
    rows = [("a", i, x) for i, x in enumerate(xs)]
    # out-of-order input: the fold must sort by the order column
    rows = rows[::-1] + [("b", 0, 5.0), ("b", 1, 4.0), ("c", 0, 1.0)]
    df = spark.createDataFrame(rows, "g string, d int, v double")
    got = {
        r["g"]: (r["n"], r["level"], r["trend"], r["forecast"])
        for r in holt_linear(df, ["g"], "d", "v").collect()
    }

    def holt(vals, a=0.5, b=0.3):
        lvl, trd = vals[0], vals[1] - vals[0]
        for x in vals[2:]:
            nl = a * x + (1 - a) * (lvl + trd)
            trd = b * (nl - lvl) + (1 - b) * trd
            lvl = nl
        return round(lvl, 6), round(trd, 6), round(lvl + trd, 6)

    assert got["a"] == (len(xs), *holt(xs))
    assert got["b"] == (2, *holt([5.0, 4.0]))
    assert "c" not in got  # <2 observations: trend not estimable


def test_woe_iv_hand_computed(spark):
    import math as _math

    from botkop_telcotraffic_spark_spark.operators.encode import woe_iv

    # A: 3 pos / 1 neg; B: 1 pos / 3 neg  -> symmetric WOE
    rows = [("A", 1)] * 3 + [("A", 0)] + [("B", 1)] + [("B", 0)] * 3
    df = spark.createDataFrame(rows, "c string, y int")
    got = {r["category"]: r for r in woe_iv(df, "c", "y").collect()}
    sp, sq = (3 + 0.5) / 4, (1 + 0.5) / 4
    woe_a = _math.log(sp / sq)
    assert got["A"]["n_pos"] == 3 and got["A"]["n_neg"] == 1
    assert got["A"]["woe"] == round(woe_a, 6)
    assert got["B"]["woe"] == round(-woe_a, 6)
    iv = sum(r["iv_term"] for r in got.values())
    assert iv > 0.3  # a strongly separating feature


def test_cramers_v_perfect_and_independent(spark):
    from botkop_telcotraffic_spark_spark.operators.profile import cramers_v

    # perfect association: x determines y -> V = 1
    perfect = spark.createDataFrame(
        [("a", 1)] * 5 + [("b", 2)] * 5, "x string, y int"
    )
    row = cramers_v(perfect, "x", "y").collect()[0]
    assert row["v"] == 1.0 and row["n"] == 10 and row["r"] == 2

    # exact independence: uniform 2x2 -> chi2 = 0, V = 0
    indep = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("b", 2)] * 3, "x string, y int"
    )
    row = cramers_v(indep, "x", "y").collect()[0]
    assert row["chi2"] == 0.0 and row["v"] == 0.0


def test_mann_whitney_auc_known_cases(spark):
    from botkop_telcotraffic_spark_spark.operators.experiment import (
        mann_whitney_auc,
    )

    # perfect separation -> AUC 1; anti-separation -> 0; all tied -> 0.5
    rows = (
        [("sep", 1, float(10 + i)) for i in range(3)]
        + [("sep", 0, float(i)) for i in range(3)]
        + [("anti", 0, float(10 + i)) for i in range(3)]
        + [("anti", 1, float(i)) for i in range(3)]
        + [("tied", 1, 7.0), ("tied", 1, 7.0), ("tied", 0, 7.0)]
        + [("onlypos", 1, 1.0)]
    )
    df = spark.createDataFrame(rows, "g string, y int, s double")
    got = {
        r["g"]: (r["n_pos"], r["n_neg"], r["auc"])
        for r in mann_whitney_auc(df, ["g"], "y", "s").collect()
    }
    assert got["sep"] == (3, 3, 1.0)
    assert got["anti"] == (3, 3, 0.0)
    assert got["tied"] == (2, 1, 0.5)
    assert "onlypos" not in got  # AUC undefined with one class


def test_calibration_bins_ece_hand(spark):
    from botkop_telcotraffic_spark_spark.operators.experiment import (
        calibration_bins,
    )

    # bin 0: p=0.05 x4, 1 positive (rate .25, gap +.2)
    # bin 9: p=0.95 x4, 3 positive; p=1.0 lands in bin 9
    rows = [(0.05, 1), (0.05, 0), (0.05, 0), (0.05, 0)] + [
        (0.95, 1), (0.95, 1), (1.0, 1), (0.95, 0)
    ]
    df = spark.createDataFrame(rows, "p double, y int")
    got = {r["bin"]: r for r in calibration_bins(df, "p", "y", 10).collect()}
    assert set(got) == {0, 9}
    assert got[0]["pos_rate"] == 0.25 and got[0]["gap"] == 0.2
    assert got[9]["n"] == 4
    ece = sum(r["ece_term"] for r in got.values())
    assert abs(ece - (0.5 * 0.2 + 0.5 * abs(0.75 - 0.9625))) < 1e-9


def test_holt_winters_matches_pure_python(spark):
    import math as _math

    from botkop_telcotraffic_spark_spark.operators.timeseries import (
        holt_winters,
    )

    xs = [10 + 3 * _math.sin(i * 2 * _math.pi / 7) + 0.1 * i for i in range(20)]
    df = spark.createDataFrame(
        [("a", i, x) for i, x in enumerate(xs)] + [("short", 0, 1.0)],
        "g string, d int, v double",
    )
    got = {r["g"]: r for r in holt_winters(df, ["g"], "d", "v", 7).collect()}

    a, b, g, P = 0.3, 0.1, 0.2, 7
    s = xs[0]
    for x in xs[1:P]:
        s = s + x  # left-assoc fold, matching the engine
    lvl, trd = s / 7.0, 0.0
    seas = [x - lvl for x in xs[:P]]
    for x in xs[P:]:
        sc = seas[0]
        nl = a * (x - sc) + (1 - a) * (lvl + trd)
        trd = b * (nl - lvl) + (1 - b) * trd
        seas = seas[1:] + [g * (x - nl) + (1 - g) * sc]
        lvl = nl
    assert got["a"]["level"] == round(lvl, 6)
    assert got["a"]["trend"] == round(trd, 6)
    assert got["a"]["seasonal_next"] == round(seas[0], 6)
    assert "short" not in got  # < period+1 observations


def test_delta_ratio_metric_hand(spark):
    from botkop_telcotraffic_spark_spark.operators.experiment import (
        delta_ratio_metric,
    )

    rows = [
        ("A", 1, 2.0, 4.0), ("A", 2, 1.0, 1.0), ("A", 3, 3.0, 5.0),
        ("B", 4, 0.0, 2.0), ("B", 5, 2.0, 2.0),
        ("empty", 6, 1.0, 0.0), ("empty", 7, 0.0, 0.0),  # sy = 0: dropped
    ]
    df = spark.createDataFrame(rows, "arm string, u int, x double, y double")
    got = {r["arm"]: r for r in delta_ratio_metric(df, "arm", "u", "x", "y").collect()}
    assert got["A"]["ratio"] == 0.6 and got["A"]["n"] == 3
    assert got["A"]["se"] > 0
    assert got["B"]["ratio"] == 0.5
    assert "empty" not in got


def test_srm_check_flags_mismatch(spark):
    from botkop_telcotraffic_spark_spark.operators.experiment import srm_check

    # 90/10 split over 100 units: chi2 = (40^2/50)*2 = 64 -> srm
    rows = [("a", i) for i in range(90)] + [("b", 1000 + i) for i in range(10)]
    df = spark.createDataFrame(rows, "arm string, u int")
    got = {r["arm"]: r for r in srm_check(df, "arm", "u").collect()}
    assert got["a"]["n_units"] == 90 and got["a"]["expected_units"] == 50.0
    assert got["a"]["chi2"] == 64.0 and got["a"]["srm"] == 1

    # exact 50/50: chi2 = 0, no flag; duplicate rows per unit ignored
    rows = [("a", i) for i in range(50)] * 3 + [("b", 100 + i) for i in range(50)]
    df = spark.createDataFrame(rows, "arm string, u int")
    got = {r["arm"]: r for r in srm_check(df, "arm", "u").collect()}
    assert got["b"]["chi2"] == 0.0 and got["b"]["srm"] == 0


def test_srm_check_rejects_bad_expected(spark):
    """An explicit design dict must be complete and sum to 1 — an
    observed arm missing from it would otherwise NULL its chi2 term
    out of the sum and silently mask a real mismatch."""
    import pytest

    from botkop_telcotraffic_spark_spark.operators.experiment import srm_check

    rows = [("a", i) for i in range(50)] + [("b", 100 + i) for i in range(50)]
    df = spark.createDataFrame(rows, "arm string, u int")
    # shares don't sum to 1 -> driver-side ValueError
    with pytest.raises(ValueError, match="sum to"):
        srm_check(df, "arm", "u", expected={"a": 0.5, "b": 0.4})
    # non-positive share -> driver-side ValueError
    with pytest.raises(ValueError, match="> 0"):
        srm_check(df, "arm", "u", expected={"a": 1.0, "b": 0.0})
    # observed arm absent from the dict -> execution-time raise_error
    with pytest.raises(Exception, match="absent from expected"):
        srm_check(df, "arm", "u", expected={"a": 1.0}).collect()
    # complete explicit dict still works
    got = {
        r["arm"]: r
        for r in srm_check(df, "arm", "u", expected={"a": 0.5, "b": 0.5}).collect()
    }
    assert got["a"]["chi2"] == 0.0 and got["a"]["srm"] == 0


def test_ngram_novelty_first_doc_owns_all(spark):
    from botkop_telcotraffic_spark_spark.operators.text import ngram_novelty

    docs = [
        (1, "a b c d e"),          # first doc: everything novel
        (2, "a b c d e"),          # exact dup: nothing novel
        (3, "a b c x y z"),        # shares 'a b c' only
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in ngram_novelty(df, "doc_id", "text", 3).collect()}
    assert got[1]["novelty"] == 1.0 and got[1]["n_shingles"] == 3
    assert got[2]["novelty"] == 0.0
    # doc 3 shingles: abc (seen), bcx, cxy, xyz -> 3/4 novel
    assert got[3]["n_shingles"] == 4 and got[3]["novelty"] == 0.75


def test_burst_runs_islands(spark):
    from botkop_telcotraffic_spark_spark.operators.timeseries import burst_runs

    # 12 buckets, counts [1,1,9,9,9,1,9,1,1,1,1,1]: mean = 44/12 ≈
    # 3.67, 2x ≈ 7.33 -> the four 9s are hot; runs [2,3,4] (len 3)
    # and [6] (len 1) -> max_run 3
    rows = []
    counts = [1, 1, 9, 9, 9, 1, 9, 1, 1, 1, 1, 1]
    for b, c in enumerate(counts):
        rows += [("a", b)] * c
    df = spark.createDataFrame(rows, "k string, b int")
    r = burst_runs(df, ["k"], "b", factor=2.0).collect()[0]
    assert r["n_buckets"] == 12 and r["n_bursty"] == 4
    assert r["max_run"] == 3
    assert r["burst_share"] == round(4 / 12, 6)

    # no bursty buckets: max_run coalesces to 0
    flat = spark.createDataFrame([("a", 0), ("a", 1)], "k string, b int")
    r = burst_runs(flat, ["k"], "b", factor=2.0).collect()[0]
    assert r["n_bursty"] == 0 and r["max_run"] == 0


def test_capture_recapture_chapman(spark):
    from botkop_telcotraffic_spark_spark.operators.profile import (
        capture_recapture,
    )

    # occasion 0 sees users 1-60, occasion 1 sees 41-100: n1=60, n2=60,
    # m=20 -> Chapman est = 61*61/21 - 1
    rows = [(u, 0) for u in range(1, 61)] + [(u, 1) for u in range(41, 101)]
    df = spark.createDataFrame(rows, "u int, occ int")
    r = capture_recapture(df, "u", "occ").collect()[0]
    assert (r["n1"], r["n2"], r["m"]) == (60, 60, 20)
    assert r["est_population"] == round(61 * 61 / 21 - 1, 6)
    assert r["se"] > 0


def test_holt_backtest_errors_hand(spark):
    from botkop_telcotraffic_spark_spark.operators.timeseries import (
        holt_backtest,
    )

    # 5 points, train_frac .8 -> train on 4, horizon 1.
    # train [10,12,13,15.5]: level/trend from the holt_linear test
    # (15.075, 2.2775) -> forecast 17.3525 vs actual 18.0
    xs = [10.0, 12.0, 13.0, 15.5, 18.0]
    df = spark.createDataFrame(
        [("a", i, x) for i, x in enumerate(xs)], "g string, d int, v double"
    )
    r = holt_backtest(df, ["g"], "d", "v").collect()[0]
    assert (r["n"], r["train_n"], r["horizon"]) == (5, 4, 1)
    expect = abs(15.075 + 2.2775 - 18.0)
    assert r["mae"] == round(expect, 6)
    assert r["rmse"] == round(expect, 6)  # horizon 1: rmse == mae

    # horizon empty (n=2 -> tn=1 < 2): dropped
    short = spark.createDataFrame(
        [("b", 0, 1.0), ("b", 1, 2.0)], "g string, d int, v double"
    )
    assert holt_backtest(short, ["g"], "d", "v").count() == 0


def test_centroid_drift_identical_and_orthogonal(spark):
    from botkop_telcotraffic_spark_spark.operators.embed import centroid_drift

    # label 'same': identical halves -> cos 1, equal norms
    # label 'orth': half 0 on x-axis, half 1 on y-axis -> cos 0
    rows = (
        [("same", 0, [1.0, 2.0]), ("same", 0, [3.0, 4.0]),
         ("same", 1, [1.0, 2.0]), ("same", 1, [3.0, 4.0])]
        + [("orth", 0, [2.0, 0.0]), ("orth", 1, [0.0, 3.0])]
    )
    df = spark.createDataFrame(rows, "label string, half int, embedding array<double>")
    got = {r["label"]: r for r in centroid_drift(df, ["label"], "half", dim=2).collect()}
    assert got["same"]["centroid_cos"] == 1.0
    assert got["same"]["norm_a"] == got["same"]["norm_b"]
    assert got["same"]["n_a"] == 2 and got["same"]["n_b"] == 2
    assert got["orth"]["centroid_cos"] == 0.0
    assert got["orth"]["norm_a"] == 2.0 and got["orth"]["norm_b"] == 3.0


def test_degree_powerlaw_star_and_clique(spark):
    import math

    from botkop_telcotraffic_spark_spark.operators.graph import degree_powerlaw

    # star K1,4: hub degree 4, four leaves degree 1
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "a int, b int"
    )
    r = degree_powerlaw(star, dmin=1).collect()[0]
    assert (r["n_nodes"], r["max_degree"]) == (5, 4)
    # alpha = 1 + 5 / (ln(4/.5) + 4·ln(1/.5))
    want = 1 + 5 / (math.log(4 / 0.5) + 4 * math.log(1 / 0.5))
    assert r["alpha"] == round(want, 6)

    # clique K3: all degrees 2 — duplicate/reversed edges must not
    # inflate degrees
    k3 = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3)], "a int, b int"
    )
    r = degree_powerlaw(k3, dmin=1).collect()[0]
    assert (r["n_nodes"], r["max_degree"]) == (3, 2)


def test_nelson_aalen_hand_curve(spark):
    import math

    from botkop_telcotraffic_spark_spark.operators.survival import nelson_aalen

    # durations: deaths at t=1 (of 4 at risk), t=2 (of 2 at risk);
    # censored at t=1 (still at risk AT 1) and t=3 (no death row)
    rows = [(1.0, True), (1.0, False), (2.0, True), (3.0, False)]
    df = spark.createDataFrame(rows, "dur double, obs boolean")
    got = {r["t"]: r for r in nelson_aalen(df, "dur", "obs").collect()}
    assert set(got) == {1.0, 2.0}
    assert got[1.0]["at_risk"] == 4 and got[1.0]["deaths"] == 1
    assert got[1.0]["cum_hazard"] == 0.25
    assert got[2.0]["at_risk"] == 2
    assert got[2.0]["cum_hazard"] == round(0.25 + 0.5, 6)
    assert got[2.0]["se"] == round(math.sqrt(1 / 16 + 1 / 4), 6)


def test_welch_t_hand(spark):
    import math

    from botkop_telcotraffic_spark_spark.operators.experiment import welch_t

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0), ("b", 4.0),
            ("b", 6.0), ("b", 8.0)]
    df = spark.createDataFrame(rows, "arm string, v double")
    r = welch_t(df, "arm", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 4)
    assert (r["mean_a"], r["mean_b"]) == (2.0, 5.0)
    # operator contract: var rounded to 6 FIRST, then scalar math
    va, vb = 1.0, round(20.0 / 3.0, 6)
    assert (r["var_a"], r["var_b"]) == (va, vb)
    se2 = va / 3 + vb / 4
    assert r["t"] == round(3.0 / math.sqrt(se2), 6)
    want_df = se2 * se2 / ((va / 3) ** 2 / 2 + (vb / 4) ** 2 / 3)
    assert r["df_welch"] == round(want_df, 6)
    assert 0.0 < r["p_value"] <= 1.0

    # one arm with n < 2: dropped, not a divide-by-zero row
    tiny = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("b", 3.0)], "arm string, v double"
    )
    assert welch_t(tiny, "arm", "v", "a", "b").count() == 0


def test_ucb1_hand(spark):
    import math

    from botkop_telcotraffic_spark_spark.operators.experiment import (
        ucb1_readout,
    )

    rows = [("A", 1.0), ("A", 0.0), ("B", 1.0)]
    df = spark.createDataFrame(rows, "arm string, r double")
    got = {x["arm"]: x for x in ucb1_readout(df, "arm", "r").collect()}
    assert got["A"]["n_pulls"] == 2 and got["B"]["n_pulls"] == 1
    assert got["A"]["mean_reward"] == 0.5
    assert got["A"]["ucb_index"] == round(
        0.5 + math.sqrt(2 * math.log(3.0) / 2), 6
    )
    assert got["B"]["ucb_index"] == round(
        1.0 + math.sqrt(2 * math.log(3.0) / 1), 6
    )
    # B has the higher index -> best; exactly one best arm
    assert got["B"]["best"] == 1 and got["A"]["best"] == 0


def test_quality_sweep_curve_shape(spark):
    from botkop_telcotraffic_spark_spark.operators.text import (
        quality_threshold_sweep,
    )

    rows = [
        (1, "the the the the the"),                      # stopword stuffing
        (2, "alpha beta gamma delta epsilon zeta eta"),  # diverse
        (3, "one two three four five six seven eight nine ten "
            "eleven twelve thirteen fourteen fifteen"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = quality_threshold_sweep(df, "doc_id", "text").collect()
    assert len(out) == 10
    by_tau = sorted(out, key=lambda r: r["threshold"])
    # threshold 0 keeps the whole corpus
    assert by_tau[0]["kept_docs"] == 3 and by_tau[0]["kept_frac"] == 1.0
    assert by_tau[0]["token_frac"] == 1.0
    # keep-rate and token retention are monotone non-increasing
    kd = [r["kept_docs"] for r in by_tau]
    kt = [r["kept_tokens"] for r in by_tau]
    assert kd == sorted(kd, reverse=True)
    assert kt == sorted(kt, reverse=True)
    # empty buckets report NULL mean, never NaN/zero
    for r in by_tau:
        if r["kept_docs"] == 0:
            assert r["mean_quality_kept"] is None
        else:
            assert 0.0 <= r["mean_quality_kept"] <= 1.0


def test_logrank_hand_curve(spark):
    import math

    from botkop_telcotraffic_spark_spark.operators.experiment import normal_sf
    from botkop_telcotraffic_spark_spark.operators.survival import logrank_test

    # A: deaths at t=1 and t=2.  B: censored at t=1, death at t=3.
    #  t=1: n=(2,2) d=(1,0) -> E1=0.5, V=0.25
    #  t=2: n=(1,1) d=(1,0) -> E1=0.5, V=0.25
    #  t=3: n=(0,1) d=(0,1) -> E1=0.0, V=0 (n_t=1 convention)
    # O_a=2, E_a=1.0, V=0.5 -> z=sqrt(2), chi2=2.0
    rows = [("a", 1.0, True), ("a", 2.0, True),
            ("b", 1.0, False), ("b", 3.0, True)]
    df = spark.createDataFrame(rows, "g string, dur double, obs boolean")
    r = logrank_test(df, "dur", "obs", "g", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert (r["deaths_a"], r["deaths_b"]) == (2, 1)
    assert r["expected_a"] == 1.0
    assert r["var_lr"] == 0.5
    assert r["chi2"] == 2.0
    # p via the shared A&S normal_sf at z = sqrt(2) (evaluate the
    # same Column expression the operator uses)
    want_p = spark.range(1).select(
        (2.0 * normal_sf(F.lit(math.sqrt(2.0)))).alias("p")
    ).collect()[0]["p"]
    assert r["p_value"] == round(want_p, 6)

    # identical groups: O == E exactly, so chi2 == 0
    sym = spark.createDataFrame(
        [("a", 1.0, True), ("a", 2.0, True),
         ("b", 1.0, True), ("b", 2.0, True)],
        "g string, dur double, obs boolean",
    )
    r2 = logrank_test(sym, "dur", "obs", "g", "a", "b").collect()[0]
    assert r2["chi2"] == 0.0 and r2["p_value"] == 1.0

    # all-censored: no death times -> no variance -> empty result
    cens = spark.createDataFrame(
        [("a", 1.0, False), ("b", 2.0, False)],
        "g string, dur double, obs boolean",
    )
    assert logrank_test(cens, "dur", "obs", "g", "a", "b").count() == 0


@pytest.mark.parametrize(
    "points, decay, seed",
    [
        ([[0.0, 0.0], [1.0, 1.0]], 1.0, 3),
        ([[6.0, 3.0], [2.0, 1.0]], 0.5, 7),
    ],
    ids=["decay1_seed3", "decay0.5_seed7"],
)
def test_streaming_kmeans_snapshot_pruning(spark, tmp_path, points, decay, seed):
    """snapshot() keeps only the newest two state files, pruned AFTER
    the new one is committed, and align() still restores from them.
    Two is load-bearing: a crash after snapshot(N) but before the
    offset commit replays batch N, whose align() loads b(N-1); had
    b(N-1) been pruned, a fresh process would silently reset to its
    pristine state and the replayed model would diverge."""
    import os

    from botkop_telcotraffic_spark_spark.operators.kmeans import StreamingKMeans

    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(points)], "id long, point array<double>"
    )
    state = str(tmp_path / "state")
    m = StreamingKMeans(k=2, dim=2, decay=decay, seed=seed)
    for b in range(4):
        m.align(state, b)
        m.update_and_assign(df)
        m.snapshot(state, b)
    assert sorted(os.listdir(state)) == ["b2.json", "b3.json"]

    # a fresh process replaying the last (possibly uncommitted) batch
    # restores from the retained b2 snapshot and reproduces m's exact
    # post-batch-3 state
    m2 = StreamingKMeans(k=2, dim=2, decay=decay, seed=seed)
    m2.align(state, 3)
    out = m2.update_and_assign(df).collect()
    assert m2.centroids == m.centroids
    assert m2.weights == m.weights
    assert len(out) == 2


def test_cross_encoder_rerank_features_match_bruteforce(spark):
    """ranking.py::cross_encoder_rerank vs an independent pure-python
    scorer: coverage / log-tf / positional min_gap (checked against
    the O(h^2) brute-force pair minimum — the operator uses the
    sorted-adjacency shortcut, so this is the equivalence proof on
    data), logistic combination, and rank order.  Also pins the
    degenerate shapes: a doc with ONE matching term has no gap
    (min_gap -1, proximity 0), a doc with zero hits scores on
    cosine alone."""
    import math

    from botkop_telcotraffic_spark_spark.operators.ranking import (
        cross_encoder_rerank,
    )

    docs = spark.createDataFrame(
        [
            # join@0, window@2, join@4, stream@9 -> min distinct gap 1
            (1, "join the window with join later and a far stream end"),
            # single matching term only -> no gap
            (2, "stream stream stream of unrelated words"),
            # zero hits
            (3, "completely unrelated text here"),
            # window@1, stream@2 adjacent -> gap 1; join missing
            (4, "the window stream pair sits adjacent here"),
        ],
        "doc_id bigint, text string",
    )
    shortlist = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (4, 4)], "doc_id bigint, mmr_rank int"
    )
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
         (3, [1.0, 1.0]), (4, [-1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = {
        r["doc_id"]: r
        for r in cross_encoder_rerank(
            docs,
            shortlist,
            ["join", "window", "stream"],
            query_vec=vecs.where(F.col("vec_id") == 0),
            doc_vecs=vecs.where(F.col("vec_id") > 0),
        ).collect()
    }

    def brute(text, qv, dv):
        toks = text.split(" ")
        hits = [(i, t) for i, t in enumerate(toks)
                if t in ("join", "window", "stream")]
        n_terms = len({t for _, t in hits})
        n_hits = len(hits)
        gaps = [abs(a[0] - b[0]) for a in hits for b in hits
                if a[1] != b[1]]
        min_gap = min(gaps) if gaps else -1
        cov = n_terms / 3.0
        prox = 0.0 if min_gap < 0 else 1.0 / (1.0 + min_gap)
        cos = (
            sum(x * y for x, y in zip(qv, dv))
            / (math.sqrt(sum(x * x for x in qv))
               * math.sqrt(sum(x * x for x in dv)))
        )
        ltf = math.log(1.0 + n_hits)
        z = 2.0 * cov + 1.5 * prox + 1.0 * cos + 0.25 * ltf
        return n_terms, n_hits, min_gap, round(
            1.0 / (1.0 + math.exp(-z)), 6
        )

    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    vmap = {r["vec_id"]: r["embedding"] for r in vecs.collect()}
    for did in (1, 2, 3, 4):
        n_terms, n_hits, min_gap, score = brute(
            texts[did], vmap[0], vmap[did]
        )
        got = out[did]
        assert got["n_terms"] == n_terms, did
        assert got["n_hits"] == n_hits, did
        assert got["min_gap"] == min_gap, did
        assert abs(got["ce_score"] - score) < 1e-9, (did, got["ce_score"], score)
    # degenerate pins
    assert out[2]["min_gap"] == -1 and out[2]["proximity"] == 0.0
    assert out[3]["n_hits"] == 0 and out[3]["coverage"] == 0.0
    # rank order follows score desc with doc_id ties
    ranked = sorted(out.values(), key=lambda r: (-r["ce_score"], r["doc_id"]))
    assert [r["ce_rank"] for r in ranked] == [1, 2, 3, 4]


def test_waterfill_allocate_matches_iterative_reference(spark):
    """sampling.py::waterfill_allocate (single sorted-prefix pass) vs
    the textbook ITERATIVE capped-proportional fill: repeatedly
    allocate the remaining budget pro rata over uncapped sources, cap
    any overflow, repeat until stable.  Checked on a skewed fixture
    (mixed capped/uncapped), a budget >= total supply (everything
    caps), and a tiny budget (nothing caps); allocation must conserve
    min(budget, total supply)."""
    from botkop_telcotraffic_spark_spark.operators.sampling import (
        waterfill_allocate,
    )

    def reference(rows, budget):
        alloc = {k: 0.0 for k, _, _ in rows}
        capped = set()
        remaining = budget
        while True:
            active = [(k, s, p) for k, s, p in rows if k not in capped]
            if not active or remaining <= 1e-12:
                break
            ptot = sum(p for _, _, p in active)
            newly = []
            for k, s, p in active:
                if p * remaining / ptot >= s - 1e-12:
                    newly.append(k)
            if not newly:
                for k, s, p in active:
                    alloc[k] = p * remaining / ptot
                break
            for k in newly:
                s = next(s for kk, s, _ in rows if kk == k)
                alloc[k] = s
                remaining -= s
                capped.add(k)
        return alloc, capped

    cases = [
        # (supplies, shares, budget): skewed — big shares on small
        # supplies force caps
        ([("a", 100.0, 0.1), ("b", 50.0, 0.4), ("c", 400.0, 0.3),
          ("d", 30.0, 0.2)], 300.0),
        # budget exceeds total supply: everything caps
        ([("a", 10.0, 0.5), ("b", 20.0, 0.5)], 100.0),
        # tiny budget: nothing caps
        ([("a", 100.0, 0.25), ("b", 100.0, 0.75)], 10.0),
    ]
    for rows, budget in cases:
        df = spark.createDataFrame(
            [(k, s, p, budget) for k, s, p in rows],
            "source string, supply double, share double, budget double",
        )
        got = {
            r["source"]: r
            for r in waterfill_allocate(df, ["source"]).collect()
        }
        ref_alloc, ref_capped = reference(rows, budget)
        for k, s, p in rows:
            assert abs(got[k]["alloc"] - ref_alloc[k]) < 1e-6, (
                k, got[k]["alloc"], ref_alloc[k], budget)
            assert got[k]["capped"] == (k in ref_capped), (k, budget)
        total = sum(got[k]["alloc"] for k, _, _ in rows)
        expect = min(budget, sum(s for _, s, _ in rows))
        assert abs(total - expect) < 1e-6, (total, expect)


def test_load_table_schema_cache_and_tune_once(spark):
    """r13 micro-optimizations: (a) load_table's per-path schema cache
    returns the same schema and values as a fresh inference; (b)
    tune() applies confs on first call per session and is a cheap
    no-op after, with force=True re-applying."""
    from botkop_telcotraffic_spark_spark.session import RUNTIME_CONFS, tune
    from botkop_telcotraffic_spark_spark.sources import tables

    sf = "/root/testdata/sf0.001"
    path_key = f"{sf}/documents.parquet"
    tables._SCHEMA_CACHE.pop(path_key, None)
    first = tables.load_table(spark, sf, "documents")
    assert path_key in tables._SCHEMA_CACHE
    cached = tables.load_table(spark, sf, "documents")
    assert cached.schema == first.schema
    assert sorted(map(tuple, cached.limit(5).collect())) == sorted(
        map(tuple, first.limit(5).collect())
    )
    # events keeps its nanos->micros ts conversion through the cache
    ev = tables.load_table(spark, sf, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"

    # tune(): first call pins the confs; a drifted conf is NOT re-fixed
    # by a plain later call (the skip), but force=True re-applies
    tune(spark)
    key = "spark.sql.session.timeZone"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "America/Chicago")
        tune(spark)  # skipped: session already tuned
        assert spark.conf.get(key) == "America/Chicago"
        tune(spark, force=True)
        assert spark.conf.get(key) == RUNTIME_CONFS[key]
    finally:
        spark.conf.set(key, orig)
