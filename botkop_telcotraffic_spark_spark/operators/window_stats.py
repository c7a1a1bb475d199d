"""Windowed descriptive statistics (operators A1/A2/A3 in SURVEY.md §2.5).

The reference computes per-key, per-sliding-window count/mean/stdev/
max/min with a hand-rolled StatCounter UDAF over
``reduceByKeyAndWindow`` (``MetricStatsProducer.scala:16-58``,
``MetricStats.scala:5-24``).  Here it is one declarative groupBy —
Catalyst plans a partial (map-side) + final HashAggregate, which is
exactly the map-side-combine the reference hand-built, but codegen'd,
spill-capable, and AQE-coalesced.

Fidelity notes
  * ``StatCounter.stdev`` is *population* stdev → ``stddev_pop``
    (MetricStats.scala parity; never ``stddev``/sample).
  * Windows are event-time (the reference used processing time and
    merely carried ``ts`` — SURVEY.md §2.9 W7 documents this as a
    deliberate upgrade).  Alignment is epoch-based, identical to
    DuckDB ``time_bucket``.

Scale notes: the sliding window multiplies rows by window/slide (15x
at 30s/2s).  Spark expands via a generator *before* partial
aggregation, so the shuffle carries only per-(window,key) partial
states, not raw rows — this holds at 100 TB.  The same function works
under Structured Streaming with a watermark (see streaming/).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STAT_FIELDS = ("n", "mean", "stdev", "vmax", "vmin")


def stat_aggs(value: Column | str, round_digits: int | None = None) -> list[Column]:
    """count/mean/stddev_pop/max/min of ``value`` — StatCounter parity."""
    v = F.col(value) if isinstance(value, str) else value
    mean, stdev = F.avg(v), F.stddev_pop(v)
    if round_digits is not None:
        mean, stdev = F.round(mean, round_digits), F.round(stdev, round_digits)
    return [
        F.count(v).alias("n"),
        mean.alias("mean"),
        stdev.alias("stdev"),
        F.max(v).alias("vmax"),
        F.min(v).alias("vmin"),
    ]


def keyed_stats(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    round_digits: int | None = None,
) -> DataFrame:
    """Non-windowed per-key stats (the A1/A2 aggregation minus time)."""
    return df.groupBy(*key_cols).agg(*stat_aggs(value_col, round_digits))


def stat_partials(
    df: DataFrame, key_cols: Sequence[str], value_col: str
) -> DataFrame:
    """Mergeable per-key statistics partials: (n, Σv, Σv², min, max)
    — the commutative-monoid form of :func:`stat_aggs`.  Store these
    per day/partition/shard and any rollup (daily→monthly, per-file→
    corpus, yesterday+today) is :func:`merge_stat_partials` over the
    partial rows — NO rescan of history.  This is the incremental
    analogue of the mergeable HLL/log-histogram sketches in
    ``operators/sketch.py``, exact instead of approximate.
    """
    v = F.col(value_col)
    return df.where(v.isNotNull()).groupBy(*key_cols).agg(
        F.count(v).alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("s2"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
    )


def merge_stat_partials(
    parts: DataFrame, key_cols: Sequence[str], round_digits: int = 6
) -> DataFrame:
    """Combine partial rows (any number per key — different days,
    shards, or batches) into final count/mean/stddev_pop/min/max.
    stddev via sqrt(Σv²/n − (Σv/n)²) — algebraically exact on
    merged sums; one keyed aggregate over CHANGE-SIZED partial rows,
    never the raw data.
    """
    merged = parts.groupBy(*key_cols).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("s2").alias("s2"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )
    mean = F.col("s") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    return merged.select(
        *key_cols,
        F.col("n"),
        F.round(mean, round_digits).alias("mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), round_digits).alias(
            "stdev"
        ),
        "vmin",
        "vmax",
    )


def _duration_ms(s: str) -> int:
    qty, unit = s.split()
    per = {"millisecond": 1, "second": 1000, "minute": 60_000, "hour": 3_600_000}
    return int(qty) * per[unit.rstrip("s")]


def windowed_stats(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    window: str = "30 seconds",
    slide: str | None = None,
    round_digits: int | None = None,
    two_phase: bool = False,
    watermark: str | None = None,
) -> DataFrame:
    """Sliding/tumbling event-time windowed stats per key.

    Returns columns: window_start, window_end, *key_cols, n, mean,
    stdev, vmax, vmin.

    ``watermark`` (streaming): late-data bound (e.g. "10 seconds") —
    enables append output mode, where a window emits once, when the
    watermark passes its end (W7; the reference had no late-data story
    at all).  Without it, streaming requires complete/update mode.

    ``two_phase=True`` (sliding, batch only): aggregate into
    slide-sized tumbling buckets first, then combine window/slide
    partials per sliding window.  The raw-row explosion (15x at
    30s/2s) is replaced by an explosion of already-aggregated bucket
    rows — the winning plan when events are DENSE per (bucket, key),
    e.g. telco metric streams with many events per key per slide.  On
    sparse data (~1 event per bucket-key) it only adds a shuffle —
    measure.  stdev comes from (sum, sumsq) partials: fine for metric
    magnitudes, cancellation-prone when |mean| >> stdev.
    """
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    # A sliding window explodes every row into window/slide copies
    # (15x at 30s/2s) INSIDE the scan stage, before the aggregation
    # shuffle.  If the scan is narrower than the cluster, widen it
    # first — one small pre-explosion shuffle beats a single-threaded
    # 15x Generate.  No-op on streams and on scans already wide
    # (i.e. any production-scale input).
    if slide and not df.isStreaming:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < parallelism:
            df = df.repartition(parallelism)
    if slide and two_phase:
        window_ms, slide_ms = _duration_ms(window), _duration_ms(slide)
        assert window_ms % slide_ms == 0, "window must be a multiple of slide"
        ratio = window_ms // slide_ms
        v = F.col(value_col)
        buckets = df.groupBy(F.window(F.col(ts_col), slide).alias("w"), *key_cols).agg(
            F.count(v).alias("_n"),
            F.sum(v).alias("_s"),
            F.sum(v * v).alias("_ss"),
            F.max(v).alias("_mx"),
            F.min(v).alias("_mn"),
        )
        exp = buckets.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(ratio - 1))).alias("_k")
        )
        # Interval arithmetic, not unix_millis round-trips: it keeps the
        # bucket start's exact type (TIMESTAMP or TIMESTAMP_NTZ), which
        # unix_millis rejects for NTZ inputs.
        ws = F.col("w.start") - F.col("_k") * F.expr(f"INTERVAL {slide}")
        n = F.sum("_n")
        mean = F.sum("_s") / n
        var = F.greatest(F.lit(0.0), F.sum("_ss") / n - mean * mean)
        stdev = F.sqrt(var)
        if round_digits is not None:
            mean, stdev = F.round(mean, round_digits), F.round(stdev, round_digits)
        out = exp.groupBy(ws.alias("window_start"), *key_cols).agg(
            n.alias("n"),
            mean.alias("mean"),
            stdev.alias("stdev"),
            F.max("_mx").alias("vmax"),
            F.min("_mn").alias("vmin"),
        )
        return out.select(
            "window_start",
            (F.col("window_start") + F.expr(f"INTERVAL {window}")).alias("window_end"),
            *key_cols,
            *STAT_FIELDS,
        )
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    out = df.groupBy(win.alias("w"), *key_cols).agg(*stat_aggs(value_col, round_digits))
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *key_cols,
        *STAT_FIELDS,
    )


# ---------------------------------------------------------------------------
# Multi-resolution rollup (hypertable-style continuous aggregate)

PARTIAL_FIELDS = ("n", "s", "ss", "vmax", "vmin")


def windowed_stat_partials(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    window: str,
) -> DataFrame:
    """Tumbling-window MERGEABLE partial states per key:
    (window_start, *keys, n, s, ss, vmax, vmin).

    This is the materialize-once layer of a multi-resolution rollup:
    partials at the finest resolution are stored (e.g. per minute)
    and every coarser resolution aggregates the *partials*, never the
    raw events — at 100 TB the raw table is scanned exactly once no
    matter how many resolutions are served.  (sum, sumsq) is the
    classic mergeable form of (mean, stdev); cancellation is only a
    concern when |mean| >> stdev."""
    v = F.col(value_col).cast("double")
    return (
        df.groupBy(F.window(F.col(ts_col), window).alias("w"), *key_cols)
        .agg(
            F.count(v).alias("n"),
            F.sum(v).alias("s"),
            F.sum(v * v).alias("ss"),
            F.max(v).alias("vmax"),
            F.min(v).alias("vmin"),
        )
        .select(F.col("w.start").alias("window_start"), *key_cols, *PARTIAL_FIELDS)
    )


def rollup_partials(
    partials: DataFrame,
    key_cols: Sequence[str],
    coarse_window: str,
    round_digits: int | None = None,
) -> DataFrame:
    """Combine fine-grained partials into coarser windows and finalize
    to (n, mean, stdev, vmax, vmin).  ``coarse_window`` must be a
    multiple of the partials' window.  One shuffle over the (already
    tiny) partial table; stdev is population (StatCounter parity)."""
    coarse = F.window(F.col("window_start"), coarse_window).alias("w")
    n = F.sum("n")
    mean = F.sum("s") / n
    var = F.greatest(F.lit(0.0), F.sum("ss") / n - mean * mean)
    stdev = F.sqrt(var)
    if round_digits is not None:
        mean, stdev = F.round(mean, round_digits), F.round(stdev, round_digits)
    return (
        partials.groupBy(coarse, *key_cols)
        .agg(
            n.alias("n"),
            mean.alias("mean"),
            stdev.alias("stdev"),
            F.max("vmax").alias("vmax"),
            F.min("vmin").alias("vmin"),
        )
        .select(F.col("w.start").alias("window_start"), *key_cols, *STAT_FIELDS)
    )
