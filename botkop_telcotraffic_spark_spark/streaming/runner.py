"""Deterministic streaming runners for tests and the driver contract.

``availableNow`` processes all available input then stops — replaying
fixtures through the *same* operator code that runs continuously in
production.  Event-time windows make results independent of wall
clock and batch boundaries (SURVEY.md §5 test strategy)."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    checkpoint: str | None = None,
    name: str | None = None,
    replay_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a
    memory sink; return the result as a batch DataFrame.

    ``replay_partitions``: explicit shuffle-partition count for this
    bounded replay, overriding the floor-8 default below.  Pass 1 for
    PURE-JVM stateful queries whose per-partition store open/commit
    dominates (round-9 A/B: the 4-store stream-stream join runs 3.1 s
    at 8 partitions, 2.3 s at 1; but Python-stateful streams want the
    parallelism — r8 negative — and native session-window merges run
    WORSE at 1: 1.2 s -> 1.7 s)."""
    spark = stream_df.sparkSession
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    # Bounded-replay accommodation: each stateful partition opens its
    # own state store per micro-batch, so a 32-partition one-shot
    # replay of a tiny fixture spends its wall clock on store
    # open/commit, not data (stream-stream join = 4 stores/partition;
    # measured 5.5 s -> ~2 s at sf0.1 with 8).  Fresh checkpoints per
    # invocation make the pinned-at-start partition count safe to
    # vary; values are partitioning-independent.  Production streams
    # size shuffle partitions to the cluster instead (SCALE.md).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if replay_partitions is not None:
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(replay_partitions)
            )
        elif checkpoint is None and int(prev) > 8:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        writer = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        q = writer.start()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def pinned_replay_source(sliced: DataFrame, nb: int) -> str:
    """Materialize an ntile-sliced DataFrame as ``nb`` mtime-ordered
    single parquet files — the deterministic replay source used by
    the streaming hash oracles (fan-out, watermark, K-Means).

    ``sliced`` must carry an integer column ``b`` in 1..nb (the ntile
    slice) plus the payload columns; the files are written with ONE
    ``partitionBy("b")`` job (the write consumes the ntile plan
    directly — no localCheckpoint, no per-slice filtered writes),
    then driver-side renamed to ``b{t}.parquet`` with strictly
    increasing mtimes 10 s apart (FileStreamSource orders unseen
    files by modification time, names agreeing lexicographically as
    a tiebreak) — the replay-harness equivalent of Kafka offsets
    that a DuckDB oracle can reproduce exactly.  The payload files do
    NOT contain ``b`` (partition column), matching the readStream
    schemas.  No driver collect of data at any size.

    Every call slices its own input into a fresh directory; nothing is
    reused across calls.  Returns the source directory (scratch,
    removed at interpreter exit)."""
    import atexit
    import glob
    import os
    import shutil
    import tempfile
    import time

    src_dir = tempfile.mkdtemp(prefix="replay_src_")
    atexit.register(shutil.rmtree, src_dir, ignore_errors=True)
    tmp = os.path.join(src_dir, "_slices")
    sliced.repartition(nb, "b").write.partitionBy("b").mode(
        "overwrite"
    ).parquet(tmp)
    base = time.time()
    for t in range(1, nb + 1):
        part = glob.glob(os.path.join(tmp, f"b={t}", "part-*.parquet"))
        assert len(part) == 1, f"slice {t}: {part}"
        dst = os.path.join(src_dir, f"b{t}.parquet")
        os.rename(part[0], dst)
        os.utime(dst, (base + 10 * t, base + 10 * t))
    shutil.rmtree(tmp)
    return src_dir


def stream_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Re-read a warehouse table as a bounded stream (replay source).

    Uses the batch loader's schema handling (nanos ts etc.)."""
    from ..sources.tables import load_table

    path = f"{sf_dir}/{name}.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # single-file table: stream from the parent dir with a glob filter
    # (the streaming file source only accepts directories)
    stream = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    # apply the same ts normalization as the batch loader
    if name == "events" and dict(stream.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return stream


class replay_partitions:
    """Context manager applying the same bounded-replay shuffle trim
    as run_to_memory to custom-started streams (foreachBatch
    pipelines): fewer partitions = fewer per-batch state-store /
    task round-trips on a tiny one-shot replay.  No-op when the
    session is already at or below the floor."""

    def __init__(self, spark: SparkSession, n: int = 8) -> None:
        self._spark, self._n = spark, n
        self._prev: str | None = None

    def __enter__(self) -> "replay_partitions":
        self._prev = self._spark.conf.get("spark.sql.shuffle.partitions")
        if int(self._prev) > self._n:
            self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))
        return self

    def __exit__(self, *exc) -> None:
        if self._prev is not None:
            self._spark.conf.set("spark.sql.shuffle.partitions", self._prev)
