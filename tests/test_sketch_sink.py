"""Tests: mergeability of the HLL, log-histogram and count-min sketches."""

from __future__ import annotations

from pyspark.sql import functions as F

from botkop_telcotraffic_spark_spark.operators import sketch


def test_hll_union_of_partials_is_lossless(spark):
    """Estimate(union(per-day sketches)) == estimate(one-shot sketch):
    the pre-aggregation invariant that makes sketch tables safe to
    store and roll up later."""
    from botkop_telcotraffic_spark_spark.sources import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = sketch.build_sketches(e, ["event_type", "day"], "user_id")
    rolled = sketch.rollup_sketches(daily, ["event_type"])
    direct = sketch.rollup_sketches(
        sketch.build_sketches(e, ["event_type"], "user_id"), ["event_type"]
    )
    r = {x["event_type"]: x["approx_distinct"] for x in rolled.collect()}
    d = {x["event_type"]: x["approx_distinct"] for x in direct.collect()}
    assert r == d
    # estimates are close to truth at lg_k=12 (~1.6% err; tiny sets exact)
    truth = {
        x["event_type"]: x["n"]
        for x in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, v in truth.items():
        assert abs(r[k] - v) <= max(2, 0.05 * v)


def test_loghist_rollup_is_lossless_and_bounded(spark):
    """(a) rollup(day-grain partials) == direct coarse build, exactly;
    (b) every quantile estimate is within the bucket's multiplicative
    bound of the true continuous quantile: est/true in [0.75, 1.5]."""
    from botkop_telcotraffic_spark_spark.sources import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = sketch.loghist_build(e, ["event_type", "day"], "value")
    rolled = sketch.loghist_rollup(daily, ["event_type"])
    direct = sketch.loghist_build(e, ["event_type"], "value")
    r = {(x["event_type"], x["bucket"]): x["cnt"] for x in rolled.collect()}
    d = {(x["event_type"], x["bucket"]): x["cnt"] for x in direct.collect()}
    assert r == d

    ests = {
        x["event_type"]: x
        for x in sketch.loghist_quantiles(rolled, ["event_type"], [0.5, 0.95]).collect()
    }
    truth = {
        x["event_type"]: x
        for x in e.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .collect()
    }
    for et, t in truth.items():
        for est_col, true_val in (("p50_est", t["p50"]), ("p95_est", t["p95"])):
            if true_val and true_val > 0:
                ratio = ests[et][est_col] / true_val
                assert 0.70 <= ratio <= 1.55, (et, est_col, ratio)


def test_cms_never_undercounts_and_merges_losslessly(spark):
    """CMS point estimates dominate exact counts, and per-day partial
    sketches merge cell-wise to exactly the one-shot sketch."""
    from botkop_telcotraffic_spark_spark.sources import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    sk = sketch.cms_build(e, "user_id")
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    est = sketch.cms_estimate(sk, exact, "user_id")
    bad = est.where(F.col("cms_est") < F.col("exact_n")).count()
    assert bad == 0

    e2 = e.withColumn("day", F.to_date("ts"))
    days = [
        d[0] for d in e2.select("day").distinct().orderBy("day").limit(3).collect()
    ]
    partials = [
        sketch.cms_build(e2.where(F.col("day") == d), "user_id") for d in days
    ]
    merged = sketch.cms_merge(
        partials[0].unionByName(partials[1]).unionByName(partials[2])
    )
    direct = sketch.cms_build(e2.where(F.col("day").isin(days)), "user_id")
    m = {(x["d"], x["bucket"]): x["cnt"] for x in merged.collect()}
    dd = {(x["d"], x["bucket"]): x["cnt"] for x in direct.collect()}
    assert m == dd
