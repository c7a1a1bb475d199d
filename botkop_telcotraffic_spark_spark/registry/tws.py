"""Keyed stateful streaming operators on applyInPandasWithState, the
PySpark form of Structured Streaming's mapGroupsWithState (SURVEY.md
§2.9 W6).  Each operator groups the stream by ``user_id`` (the only
shuffle) and folds a key's rows into a small state tuple in its
``GroupState``; ``enable_large_state`` puts that state in the
RocksDB store, so key cardinality is bounded by disk, not executor
heap.  ``idle_sessions`` alone sets a timeout: an ``EventTimeTimeout``
fires when the watermark passes a session's last event + gap.  Spark's
newer transformWithState API is not used: its Python side needs
``google.protobuf``.

Determinism across engines: order-dependent operators sort a key's
rows within the batch, and ``running_ewma``'s fold is a fixed sequence
of IEEE double ops, so DuckDB's ``list_reduce`` over the same ordered
list reproduces it bit-exactly (the oracle still rounds).  Cross-batch
order is the replay source's (single-file availableNow replay = one
batch).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupStateTimeout

# Large-state streaming profile: the default HDFS-backed state store
# keeps every key in executor heap — watermarked joins/dedup over
# high-cardinality keys (the 100 TB shape) need RocksDB's off-heap,
# disk-spilling store with incremental (changelog) checkpoints.
# Session-settable; picked up by queries started afterwards.
LARGE_STATE_CONFS: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def enable_large_state(spark: SparkSession) -> SparkSession:
    """Switch subsequently-started streaming queries to the RocksDB
    state store (bounded executor memory at any key cardinality)."""
    for k, v in LARGE_STATE_CONFS.items():
        spark.conf.set(k, v)
    return spark


_STATE_SCHEMA = "n long, ewma double"
OUT_SCHEMA = "user_id long, n long, ewma double"


def _ewma_group(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    n, ewma = state.get if state.exists else (0, 0.0)
    batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    for v in batch["value"]:
        ewma = float(v) if n == 0 else (ewma + float(v)) / 2.0
        n += 1
    state.update((n, ewma))
    yield pd.DataFrame({"user_id": [key[0]], "n": [n], "ewma": [ewma]})


def running_ewma(events: DataFrame) -> DataFrame:
    """events(event_id, user_id, ts, value) -> one row per user per
    micro-batch with the post-batch exponential moving average (alpha
    = 1/2) over the user's (ts, event_id)-ordered values:

        ewma_0 = value_0            ewma_i = (ewma_{i-1} + value_i) / 2

    State per key is (count, ewma): two scalars."""
    return events.groupBy("user_id").applyInPandasWithState(
        _ewma_group,
        outputStructType=OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_COUNT_STATE_SCHEMA = "n long, vsum double"
COUNT_OUT_SCHEMA = "user_id long, n long, vsum double"


def _count_group(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    n, vsum = state.get if state.exists else (0, 0.0)
    batch = pd.concat(list(pdfs))
    vals = batch["value"].dropna()
    n += int(len(batch))
    vsum += float(vals.sum()) if len(vals) else 0.0
    state.update((n, vsum))
    yield pd.DataFrame({"user_id": [key[0]], "n": [n], "vsum": [vsum]})


def running_keyed_counts(events: DataFrame) -> DataFrame:
    """events(user_id, value, ...) -> per-user running (n, vsum).

    The stateful substrate of a streaming leaderboard / heavy-hitter
    monitor: two scalars of state per key; each micro-batch emits the
    key's post-batch totals (update mode), and the top-k cut happens
    OVER THE SNAPSHOT downstream, where it is a k-row sort — ranking
    inside the operator would need cross-key state, which keyed state
    deliberately cannot see."""
    return events.groupBy("user_id").applyInPandasWithState(
        _count_group,
        outputStructType=COUNT_OUT_SCHEMA,
        stateStructType=_COUNT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SESS_STATE_SCHEMA = "n long, vsum double, last_us long"
SESSION_OUT_SCHEMA = "user_id long, n long, vsum double, last_us long"


def idle_sessions(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """events(user_id, ts, value) WITH a watermark already applied ->
    finalized-session rows (user_id, n, vsum, last_us), emitted when
    the watermark passes last_event + gap (applyInPandasWithState
    EventTimeTimeout; the state is cleared on emission).

    Contrast with ``session_window`` aggregation: the built-in emits
    when Spark's window state decides; the timeout form hands the
    expiry policy to user code (mixed policies, side effects on
    expiry), at the cost of owning correctness.

    Determinism contract for the oracle/tests: emission depends only
    on (events, watermark movement) = (data, file split), both fixed
    in replay; within-session aggregates are order-insensitive
    (count + sum).  Sessions still open when the query ends are NOT
    emitted — exactly the at-watermark semantics a downstream
    consumer sees in production."""
    num, unit = gap.split()
    gap_ms = int(num) * {
        "second": 1_000, "seconds": 1_000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
    }[unit]

    def _group(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, vsum, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "vsum": [vsum],
                 "last_us": [last_us]}
            )
            return
        n, vsum, last_us = state.get if state.exists else (0, 0.0, 0)
        batch = pd.concat(list(pdfs)).sort_values("ts")
        # gap-split AT INPUT TIME: the timeout only closes the idle
        # TAIL — a gap that has already elapsed when the next event
        # arrives (watermark lag) must split here, or two sessions
        # would silently merge
        closed = []
        for ts, v in zip(batch["ts"], batch["value"]):
            t_us = int(ts.value // 1_000)
            if n > 0 and t_us - last_us > gap_ms * 1_000:
                closed.append((key[0], n, vsum, last_us))
                n, vsum = 0, 0.0
            n += 1
            vsum += float(v) if pd.notna(v) else 0.0
            last_us = max(last_us, t_us)
        state.update((n, vsum, last_us))
        state.setTimeoutTimestamp(last_us // 1_000 + gap_ms)
        if closed:
            yield pd.DataFrame(
                closed, columns=["user_id", "n", "vsum", "last_us"]
            )

    return events.groupBy("user_id").applyInPandasWithState(
        _group,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=_SESS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


TYPE_COUNT_OUT_SCHEMA = "user_id long, event_type string, n long"


def running_type_counts(events: DataFrame) -> DataFrame:
    """events(user_id, event_type) -> per-(user, type) running counts,
    emitting the post-batch count for every type touched in the batch
    (update mode).  The state is one ``map<string,bigint>`` column per
    user, and the WHOLE map is read, modified and written back every
    batch the user appears in, so per-batch cost grows with the user's
    accumulated type universe, not only with the types the batch
    touches."""

    def _group(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (counts,) = state.get if state.exists else ({},)
        counts = dict(counts) if counts else {}
        batch = pd.concat(list(pdfs))
        touched = batch["event_type"].value_counts()
        out_t, out_n = [], []
        for etype, cnt in touched.items():
            counts[etype] = int(counts.get(etype, 0)) + int(cnt)
            out_t.append(etype)
            out_n.append(counts[etype])
        state.update((counts,))
        yield pd.DataFrame(
            {"user_id": [key[0]] * len(out_t), "event_type": out_t,
             "n": out_n}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _group,
        outputStructType=TYPE_COUNT_OUT_SCHEMA,
        stateStructType="counts map<string,bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


LASTK_OUT_SCHEMA = "event_id long, user_id long, n_prior long, mean_k double"


def rolling_history_features(events: DataFrame, k: int = 3) -> DataFrame:
    """events(event_id, user_id, ts, value) -> per-event features
    from the user's previous k observed values: for every
    (non-null-valued) event, the count and mean of the user's PREVIOUS
    k values — the online feature-engineering shape ("average of the
    last 3 readings") that a windowed aggregate cannot produce
    per-event.  The state is an ``array<double>`` trimmed to k values
    on every batch."""

    def _group(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (vals,) = state.get if state.exists else ([],)
        vals = list(vals)
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        out = {"event_id": [], "user_id": [], "n_prior": [], "mean_k": []}
        for eid, v in zip(batch["event_id"], batch["value"]):
            if pd.isna(v):
                continue
            hist = vals[-k:]
            out["event_id"].append(int(eid))
            out["user_id"].append(key[0])
            out["n_prior"].append(len(hist))
            out["mean_k"].append(sum(hist) / len(hist) if hist else None)
            vals.append(float(v))
        state.update((vals[-k:],))
        yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        _group,
        outputStructType=LASTK_OUT_SCHEMA,
        stateStructType="vals array<double>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HANDOVER_OUT_SCHEMA = (
    "user_id long, from_cell string, to_cell string, t double"
)


def handover_transitions(points: DataFrame) -> DataFrame:
    """points(event_id, user_id, t, cell) -> one row per OBSERVED cell
    transition (prev != cell; dwelling emits nothing) — the streaming
    half of the OD-flow matrix, the batch twin of
    ``operators/trajectory.py::od_flows``.  The state is each
    subscriber's last cell: one scalar per key, the minimal state the
    task needs (vs. buffering fixes).

    In-batch rows are sorted by (t, event_id) so replay batching
    cannot reorder a key's timeline; the state carries the last cell
    ACROSS batches, so transitions spanning micro-batch boundaries are
    emitted exactly once."""

    def _group(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (prev,) = state.get if state.exists else (None,)
        batch = pd.concat(list(pdfs)).sort_values(["t", "event_id"])
        out = {"user_id": [], "from_cell": [], "to_cell": [], "t": []}
        for _, row in batch.iterrows():
            cell = row["cell"]
            if prev is not None and prev != cell:
                out["user_id"].append(key[0])
                out["from_cell"].append(prev)
                out["to_cell"].append(cell)
                out["t"].append(float(row["t"]))
            prev = cell
        if prev is not None:
            state.update((prev,))
        yield pd.DataFrame(out)

    return points.groupBy("user_id").applyInPandasWithState(
        _group,
        outputStructType=HANDOVER_OUT_SCHEMA,
        stateStructType="cell string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PINGPONG_OUT_SCHEMA = (
    "user_id long, cell_a string, cell_b string, t double"
)


def pingpong_bounces(
    points: DataFrame, max_gap_s: float = 172_800.0
) -> DataFrame:
    """points(event_id, user_id, t, cell) -> one row per A->B->A
    bounce whose full excursion completes within ``max_gap_s``.  The
    streaming half of ``operators/trajectory.py::pingpong_handovers``
    (same predicate, same batch oracle after the pair aggregate).  The
    state is each subscriber's last TWO fixes — (prev cell, its time,
    the cell before that, its time), four scalars per key, the minimal
    state the bounce predicate needs.

    In-batch rows are sorted by (t, event_id) so replay batching
    cannot reorder a key's timeline; the state carries the last two
    fixes ACROSS batches, so bounces whose three fixes span
    micro-batch boundaries are emitted exactly once."""

    def _group(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        c1 = t1 = c2 = t2 = None
        if state.exists:
            c1, t1, c2, t2 = state.get
        batch = pd.concat(list(pdfs)).sort_values(["t", "event_id"])
        out = {"user_id": [], "cell_a": [], "cell_b": [], "t": []}
        for _, row in batch.iterrows():
            cell, t = row["cell"], float(row["t"])
            if (
                c2 is not None
                and cell == c2
                and cell != c1
                and (t - t2) <= float(max_gap_s)
            ):
                out["user_id"].append(key[0])
                out["cell_a"].append(min(cell, c1))
                out["cell_b"].append(max(cell, c1))
                out["t"].append(t)
            c2, t2, c1, t1 = c1, t1, cell, t
        if c1 is not None:
            state.update((c1, t1, c2, t2))
        yield pd.DataFrame(out)

    return points.groupBy("user_id").applyInPandasWithState(
        _group,
        outputStructType=PINGPONG_OUT_SCHEMA,
        stateStructType="c1 string, t1 double, c2 string, t2 double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CONV_LAG_OUT_SCHEMA = "user_id long, lag_us long"


def conversion_lags(
    events: DataFrame, from_type: str, to_type: str
) -> DataFrame:
    """events(event_id, user_id, us, event_type) -> exactly ONE
    (user_id, lag_us) row per entity, at the first to-event strictly
    after its FIRST from-event, even when the two land in different
    micro-batches.  The streaming half of
    ``operators/funnel.py::conversion_lag`` (identical predicate, same
    batch oracle after the stats aggregate).

    In-batch rows sort by (us, event_id); the state is (first_us,
    done), two scalars — the minimal state the first-to-first-after
    predicate needs — with first_us = -1 standing for "no from-event
    yet"."""

    def _group(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        first_us, done = (None, 0)
        if state.exists:
            first_us, done = state.get
            if first_us is not None and first_us < 0:
                first_us = None
        batch = pd.concat(list(pdfs)).sort_values(["us", "event_id"])
        out = {"user_id": [], "lag_us": []}
        for _, row in batch.iterrows():
            et, us = row["event_type"], int(row["us"])
            if et == from_type and first_us is None:
                first_us = us
            elif (
                et == to_type
                and not done
                and first_us is not None
                and us > first_us
            ):
                out["user_id"].append(key[0])
                out["lag_us"].append(us - first_us)
                done = 1
        state.update((-1 if first_us is None else first_us, done))
        yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        _group,
        outputStructType=CONV_LAG_OUT_SCHEMA,
        stateStructType="first_us long, done int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
