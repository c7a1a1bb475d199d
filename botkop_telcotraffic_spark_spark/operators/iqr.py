"""IQR-based outlier detection (operators A4/A5/J2 in SURVEY.md §2.5).

The reference collects each cluster's distances into a list, sorts it
executor-locally, and takes naive order statistics ``q1 = v(n/4)``,
``q3 = v(3n/4)`` (0-based index on the sorted list), thresholds
``(q1 - 1.5*iqr, q3 + 1.5*iqr)``, degenerate ``(MinValue, MaxValue)``
when n <= 4 (``ClusterAnalyser.scala:47-58,157-183``).

Two modes:
  * ``exact``  — bit-faithful replication via sort_array(collect_list)
    + element_at.  Used for oracle hash-matching.  Per-group lists
    must fit an executor — fine up to ~1e8 values/group; beyond that
    use approx.
  * ``approx`` — percentile_approx with map-side sketch merging; the
    100 TB path (bounded memory, no list materialization).

The threshold join-back (reference J2, a per-window hash join on the
group key) is a broadcast-friendly equi-join here: the threshold side
has one row per group, so AQE/broadcast makes it shuffle-free.

These serve the query registry.  The streaming product builds the same
exact fences inside its points message
(``streaming/payloads.py::cluster_points_payload``), from the list the
message collects anyway; ``DOUBLE_MIN``/``DOUBLE_MAX`` come from there.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..streaming.payloads import DOUBLE_MAX, DOUBLE_MIN

# Ceiling for exact-mode per-group sorted lists (round-8 verdict
# #6): ~1e8 doubles ≈ 800 MB of raw values per group — the documented
# executor-memory trade above.  The guard evaluates in the FINAL
# aggregate, after collect_list/sort_array has materialized the
# per-group list (see exact_group_guard: Spark has no per-group
# partial-size abort), so it does NOT prevent a merge-time OOM — it
# converts the post-materialization failure mode into a named error
# pointing at mode='approx'.  Real pre-merge protection would need a
# separate count pass; the exact entries accept the trade.  Patchable
# for tests; callers can pass an explicit limit.
MAX_EXACT_GROUP = 100_000_000


def exact_group_guard(value_expr, n_col, limit: int | None = None, what: str = "exact IQR"):
    """Wrap an exact-mode order-statistic expression so a group larger
    than ``limit`` raises a clear error instead of materializing an
    unbounded sorted list's downstream math.  Evaluated from the
    group count the aggregate already computes — a pure column
    expression, no extra scan or exchange (census-neutral).  The
    guard fires at final-aggregate evaluation: it cannot stop the
    list merge itself (Spark has no per-group partial-size abort),
    but it converts "silent OOM on the exact entry at 100 TB" into a
    named, actionable failure the moment any group crosses the
    documented bound."""
    lim = MAX_EXACT_GROUP if limit is None else limit
    return F.when(
        n_col > lim,
        F.raise_error(
            F.concat(
                F.lit(f"{what}: group size "),
                n_col.cast("string"),
                F.lit(
                    f" exceeds max_exact_group={lim}; use mode='approx' "
                    "(bounded-memory percentile sketch) or raise the limit"
                ),
            )
        ).cast("double"),
    ).otherwise(value_expr)


def iqr_bounds(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    mode: str = "exact",
    accuracy: int = 10000,
    max_exact_group: int | None = None,
) -> DataFrame:
    """Per-key (n, q1, q3, lo, hi) outlier thresholds."""
    v = F.col(value_col)
    if mode == "exact":
        g = df.groupBy(*key_cols).agg(
            F.sort_array(F.collect_list(v)).alias("_sorted"),
            F.count(v).alias("n"),
        )
        q1 = exact_group_guard(
            F.element_at("_sorted", (F.floor(F.col("n") / 4) + 1).cast("int")),
            F.col("n"),
            max_exact_group,
        )
        q3 = F.element_at("_sorted", (F.floor(F.col("n") * 3 / 4) + 1).cast("int"))
    elif mode == "approx":
        g = df.groupBy(*key_cols).agg(
            F.percentile_approx(v, F.array(F.lit(0.25), F.lit(0.75)), accuracy).alias("_q"),
            F.count(v).alias("n"),
        )
        q1, q3 = F.element_at("_q", 1), F.element_at("_q", 2)
    else:
        raise ValueError(f"unknown mode {mode!r}")
    g = g.withColumn("q1", q1).withColumn("q3", q3)
    iqr = F.col("q3") - F.col("q1")
    degenerate = F.col("n") <= 4
    g = g.withColumn(
        "lo", F.when(degenerate, F.lit(DOUBLE_MIN)).otherwise(F.col("q1") - 1.5 * iqr)
    ).withColumn(
        "hi", F.when(degenerate, F.lit(DOUBLE_MAX)).otherwise(F.col("q3") + 1.5 * iqr)
    )
    return g.select(*key_cols, "n", "q1", "q3", "lo", "hi")


def iqr_outliers(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    mode: str = "exact",
) -> DataFrame:
    """Rows of ``df`` outside their key's IQR fence, with (lo, hi)
    attached — the reference's J2 join-back + ``d < lo || d > hi``
    flag (``ClusterAnalyser.scala:55-58``)."""
    bounds = iqr_bounds(df, key_cols, value_col, mode)
    v = F.col(value_col)
    return (
        df.join(F.broadcast(bounds.select(*key_cols, "lo", "hi")), list(key_cols))
        .where((v < F.col("lo")) | (v > F.col("hi")))
    )


def mad_outliers(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    cutoff: float = 5.1891,  # 3.5 * 1.4826 (Iglewicz-Hoaglin z on σ̂)
    mode: str = "exact",
    accuracy: int = 10000,
) -> DataFrame:
    """Median-absolute-deviation outlier flags — the robust companion
    to the IQR fences (a single wild value moves mean/stddev and even
    quartiles more than it moves the MAD).

    Flags rows with ``|v - median| > cutoff * mad`` where ``mad =
    median(|v - median|)`` per key; the default cutoff is the
    Iglewicz-Hoaglin modified-z 3.5 pre-multiplied by the 1.4826
    normal-consistency constant as ONE literal, so both engines do a
    single IEEE multiply (no association-order drift).

    Physical shape: nested medians force two passes — (1) per-key
    median aggregate, broadcast back; (2) per-key deviation median,
    broadcast back; the fact table is scanned twice but never
    shuffled (both joins are one-row-per-key broadcasts).  ``exact``
    uses the interpolating ``percentile`` (list-per-group memory,
    oracle twin is quantile_cont); ``approx`` is the 100 TB path
    (percentile_approx sketches, bounded memory).
    """
    v = F.col(value_col)

    def _median(frame: DataFrame, col, out: str) -> DataFrame:
        if mode == "exact":
            agg = F.percentile(col, F.lit(0.5))
        elif mode == "approx":
            agg = F.percentile_approx(col, F.lit(0.5), accuracy)
        else:
            raise ValueError(f"unknown mode {mode!r}")
        return frame.groupBy(*key_cols).agg(agg.alias(out))

    med = _median(df, v, "med")
    with_med = df.join(F.broadcast(med), list(key_cols))
    mad = _median(with_med, F.abs(v - F.col("med")), "mad")
    scored = with_med.join(F.broadcast(mad), list(key_cols))
    return scored.where(F.abs(v - F.col("med")) > F.lit(cutoff) * F.col("mad"))


def winsorize(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group percentile winsorization: clamp ``value_col`` into
    its group's [lo_q, hi_q] exact interpolating percentiles — the
    standard robust-prep companion to IQR/MAD outlier DETECTION when
    the pipeline wants to keep the row but tame the tail (heavy-tail
    features before regression / target encoding).

    Appends ``out_col`` (default ``<value_col>_winsor``) and
    ``was_clamped``; NULL values pass through unclamped with
    was_clamped false.  Output is input-sized.

    Physical shape: one per-key percentile aggregate (key-count rows)
    broadcast back onto the fact — the fact is never shuffled; same
    contract as impute_group_stat.  At extreme per-group cardinality
    swap percentile for percentile_approx (the operators/iqr.py
    trade, documented there).
    """
    v = F.col(value_col).cast("double")
    bounds = df.groupBy(*key_cols).agg(
        F.percentile(v, F.lit(lo_q)).alias("_lo"),
        F.percentile(v, F.lit(hi_q)).alias("_hi"),
    )
    bounds = bounds.select(
        *[F.col(k).alias(f"_bk_{k}") for k in key_cols], "_lo", "_hi"
    )
    out = out_col or f"{value_col}_winsor"
    # Null-safe LEFT join: rows whose GROUP KEY is NULL must still
    # match their (NULL-key) bounds group — same contract (and same
    # bug class) as impute_group_stat's fix; keys renamed so the
    # condition never resolves both sides to one attribute
    cond = None
    for k in key_cols:
        c = F.col(k).eqNullSafe(F.col(f"_bk_{k}"))
        cond = c if cond is None else cond & c
    clamped = F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))
    return (
        df.join(F.broadcast(bounds), cond, "left")
        .drop(*[f"_bk_{k}" for k in key_cols])
        .withColumn(
            out,
            F.when(v.isNull() | F.col("_lo").isNull(), v).otherwise(clamped),
        )
        .withColumn(
            "was_clamped",
            v.isNotNull()
            & ((v < F.col("_lo")) | (v > F.col("_hi"))),
        )
        .drop("_lo", "_hi")
    )
