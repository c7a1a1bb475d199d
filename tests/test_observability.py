"""Tests for the operational surface: in-plan observation and the
simulator-driven end-to-end pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from botkop_telcotraffic_spark_spark.operators.monitor import observe_quality


def test_observe_quality_counters(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0)], "id long, value double"
    )
    observed, obs = observe_quality(
        df,
        F.col("value").isNotNull().alias("value_present"),
        (F.coalesce(F.col("value"), F.lit(0.0)) >= 0).alias("value_nonneg"),
    )
    observed.collect()
    m = obs.get
    assert m["rows"] == 3
    assert m["bad_value_present"] == 1
    assert m["bad_value_nonneg"] == 1


def test_simulator_drives_full_pipeline(spark, tmp_path):
    """End-to-end: the registered Python-DataSource simulator feeds
    the reference DAG (upsert store + enrichment + stats fan-out)."""
    from botkop_telcotraffic_spark_spark.sources import simulator
    from botkop_telcotraffic_spark_spark.streaming.pipeline import TrafficPipeline
    from botkop_telcotraffic_spark_spark.streaming.upsert_join import KeyedUpsertStore

    simulator.register(spark)
    attach_stream = simulator.as_attach_events(
        spark.readStream.format("telco_traffic")
        .option("kind", "attach")
        .option("rows_per_batch", 300)
        .option("max_batches", 1)
        .option("bearers", 40)
        .load()
    )
    store = KeyedUpsertStore(
        spark,
        str(tmp_path / "store"),
        key_col="bearerId",
        order_col="ts",
    )

    outputs = {"stats": []}
    pipe = TrafficPipeline(
        metric_names=["rtt", "byteLoss", "throughput"],
        kmeans_dims=["rtt", "byteLoss"],
        stats_sink=lambda df, bid: outputs["stats"].extend(df.collect()),
    )
    cell_stream = simulator.as_celltower_events(
        spark.readStream.format("telco_traffic")
        .option("rows_per_batch", 500)
        .option("max_batches", 1)
        .option("bearers", 40)
        .load()
    )

    def as_lines(events):
        return events.select(F.to_json(F.struct(*events.columns)).alias("value"))

    # both simulator streams as JSON lines, one query
    lines = as_lines(attach_stream).union(as_lines(cell_stream))
    pipe.run(lines, store, checkpoint=str(tmp_path / "ck"))

    # attach generator covers all 40 bearers in 300 rows (whp), so
    # every celltower event enriches; stats must cover all 3 metrics
    entries = [s for r in outputs["stats"] for s in r["stats"]]
    assert {s["metric"] for s in entries} == {
        "rtt",
        "byteLoss",
        "throughput",
    }
    assert all(s["n"] > 0 for s in entries)
