"""The streaming product's K-Means (reference W6/A4/A5, SURVEY.md §2.9).

``StreamingKMeans`` implements the published mini-batch update rule
the reference gets from Spark 1.6 MLlib
(``ClusterAnalyser.scala:15-19,33``):

    c' = (c * n * a + x_sum * m) / (n * a + m)
    n' = n * a + m

with decay factor ``a``, per-batch cluster sums ``x_sum`` (m points).
Model state is tiny (k x dim) and driver-held, exactly like the
reference's ``latestModel``; each batch does one distributed
assignment + one global aggregate that returns one row of k x (dim
+ 1) conditional sums — no keyed exchange, no session conf change,
no collect of raw points.  The reference trains on a batch *then*
predicts the same batch with the updated model; ``update_and_assign``
replicates that order.  ``assign`` is the predict/distance stage
(``ClusterAnalyser.scala:41-45``) against the model's driver-held
centroids.

The registry's batch K-Means (Lloyd, the mini-batch twin, label
centroids, assignment against a centroid DataFrame) builds on this
module from ``operators/kmeans_batch.py``.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def euclidean_sql(a: str, b: str) -> str:
    """SQL-text twin of ``functions/vector.py::euclidean``
    (ClusterAnalyser.scala:186-188): one JVM parse instead of ~10
    Py4J Column constructions, with the same left fold, casts and
    multiply order, so the doubles are bit-identical."""
    return (
        f"sqrt(aggregate(zip_with({a}, {b}, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, "
        "(acc, x) -> acc + x))"
    )


def euclidean_unrolled_sql(a: str, b: str, dim: int) -> str:
    """SQL-text twin of ``functions/vector.py::euclidean_unrolled``:
    the same left-associated term order, so the summed doubles are
    bit-identical to the fold."""
    terms = None
    for i in range(1, dim + 1):
        x = f"CAST(element_at({a}, {i}) AS DOUBLE)"
        y = f"CAST(element_at({b}, {i}) AS DOUBLE)"
        t = f"(({x} - {y}) * ({x} - {y}))"
        terms = t if terms is None else f"({terms} + {t})"
    return f"sqrt({terms})"


# Unroll the fixed-width distance only while the generated code stays
# compilable: measured crossover — dim=2 unrolled ~2x faster (HOF
# interpretation dominates), dim=64 unrolled ~2x SLOWER (Janino
# fallback on the k-times-repeated tree).
_UNROLL_MAX_DIM = 16


def assign(
    points: DataFrame,
    centroids: Sequence[tuple[int, Sequence[float]]],
    vec_col: str = "point",
    dim: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment against a driver-side sequence of
    (id, vector) pairs: adds prediction, centroid, distance columns.

    Physical shape: the k*dim centroid doubles inline in the
    projection as literals, and the argmin is a scan-side fold over
    that literal array — no aggregate subtree, no broadcast exchange
    and no per-batch build sub-job (the dominant fixed cost of a tiny
    foreachBatch job), no shuffle, no per-row synthetic id.  (An
    earlier formulation keyed an argmin groupBy on
    monotonically_increasing_id(); nondeterministic ids evaluated in
    two plan branches silently mis-join once the scan is
    multi-partition — never key on nondeterministic ids.)

    Cost: exactly k distance evaluations per point (one transform
    over the centroid array, materialized once), then an O(k) scalar
    argmin — array_position(d, array_min(d)) — whose first-occurrence
    semantics give the tiebreak: lowest index of the id-sorted array
    = lowest centroid id, matching the oracle's ``row_number() ORDER
    BY dist, prediction``.

    ``dim``: when the vector width is statically known AND small
    (<= _UNROLL_MAX_DIM), the per-centroid distance uses the UNROLLED
    codegen form (``euclidean_unrolled_sql`` — bit-identical, but
    compiled instead of the interpreted HOF fold, which costs ~1 s
    per 20k-row batch at k=3 on the streaming replay hot path).
    Wide vectors keep the fold: a 64-wide unroll inside the
    k-element transform lambda blows past Janino's codegen budget and
    falls back to interpreted eval of a huge tree (measured ~2x
    SLOWER than the fold at dim=64) — unrolling only pays while the
    expression stays compilable.

    ``operators/kmeans_batch.py::assign_frame`` takes the centroids
    as a DataFrame instead, with identical values and tiebreak.
    """
    unroll = dim is not None and dim <= _UNROLL_MAX_DIM
    # tiny (k x dim) constant — safe as a literal (the F.lit-per-row
    # cost note applies to KB-sized literals, not 6 doubles); sorted
    # by id to keep the argmin tiebreak.  Built as ONE SQL string, not
    # k*dim nested F.lit Columns: each Column node costs a Py4J
    # round-trip at DataFrame build time (k=8 x dim=64 = 512
    # round-trips ~ seconds per build, and the driver/bench rebuild
    # the frame per run).  repr() of a Python float is the shortest
    # exact decimal and Java's Double.parseDouble is correctly
    # rounded, so the 'D'-suffixed literal reproduces the identical
    # double bit-for-bit.  r13: the WHOLE three-stage chain is
    # selectExpr SQL strings — this runs once per micro-batch on the
    # streaming hot paths and per round in lloyd/minibatch loops,
    # where the ~40 Py4J Column constructions per build were the
    # measured dominant cost (~0.1 s/batch); the parsed expression
    # tree, and so the doubles and the argmin tiebreak, are identical.
    cents_sql = "array({})".format(
        ", ".join(
            "named_struct('id', {}, 'vec', array({}))".format(
                int(i), ", ".join(f"{float(x)!r}D" for x in vec)
            )
            for i, vec in sorted(centroids)
        )
    )
    dist_sql = (
        euclidean_unrolled_sql(f"`{vec_col}`", "c.vec", dim)
        if unroll
        else euclidean_sql(f"`{vec_col}`", "c.vec")
    )
    cols = [f"`{c}`" for c in points.columns]
    with_d = points.selectExpr(
        *cols,
        f"{cents_sql} AS _cents",
        f"transform({cents_sql}, c -> {dist_sql}) AS _d",
    )
    with_best = with_d.selectExpr(
        *cols,
        "element_at(_cents, CAST(array_position(_d, array_min(_d))"
        " AS INT)) AS _b",
        "array_min(_d) AS distance",
    )
    return with_best.selectExpr(
        *cols,
        "_b.id AS prediction",
        "_b.vec AS centroid",
        "distance",
    )


class StreamingKMeans:
    """Driver-held streaming K-Means with decay (reference W6 parity).

    Usage (inside foreachBatch or over any sequence of batch DFs):

        model = StreamingKMeans(k=3, dim=2, decay=1.0, seed=42)
        scored = model.update_and_assign(batch_df, vec_col="point")

    The model state is a plain list of (count, centroid) — O(k*dim)
    on the driver, like the reference's ``latestModel``.  All heavy
    work (assignment + per-cluster sums) is distributed.
    """

    def __init__(
        self,
        k: int,
        dim: int,
        decay: float = 1.0,
        seed: int = 42,
        round_state: int | None = None,
    ):
        """``round_state``: round every centroid coordinate to this
        many decimals after each batch update.  Cross-engine float
        summation drift (Spark's partial-agg order vs a serial
        oracle) otherwise compounds batch over batch; rounding the
        O(k·dim) state resets it each round, making the whole run
        hash-reproducible (the avg-round-9 convention of the batch
        Lloyd oracle, applied to the streaming update rule).

        Raises ValueError on a ``decay`` that is negative or not
        finite (MLlib's ``setDecayFactor`` rule): a negative weight
        turns the update into an extrapolation, or a division by zero
        where ``n + m = 0``."""
        if not (math.isfinite(decay) and decay >= 0):
            raise ValueError(f"decay must be finite and >= 0, got {decay!r}")
        self.k, self.dim, self.decay = k, dim, decay
        self.round_state = round_state
        self._seed = seed
        # Deterministic "random" init: small LCG, no numpy dependency
        state = seed & 0x7FFFFFFF or 1
        def rnd():
            nonlocal state
            state = (1103515245 * state + 12345) % (1 << 31)
            return state / float(1 << 31) - 0.5
        self.centroids: list[list[float]] = [
            [rnd() for _ in range(dim)] for _ in range(k)
        ]
        self.weights: list[float] = [0.0] * k

    def _centroid_pairs(self) -> list:
        """Driver-held state as (id, vector) pairs — assign()'s
        literal fast path (no per-batch broadcast build)."""
        return [(i, [float(x) for x in c]) for i, c in enumerate(self.centroids)]

    def _maybe_seed_from_batch(self, batch: DataFrame, vec_col: str) -> None:
        """First-batch centroid seeding: k distinct points in a
        deterministic order.  Random init concentrated near the origin
        (what the reference inherits from MLlib's dim=2 random init,
        ClusterAnalyser.scala:19) strands empty clusters on separated
        data; seeding from data is the standard fix and keeps runs
        reproducible."""
        if any(w > 0 for w in self.weights):
            return
        # evenly-spaced ranks over the lexicographic order spread the
        # seeds across the data's extent (all-smallest would collapse
        # every seed into one region); one fused job (_spread_seeds)
        seeds = _spread_seeds(
            batch.select(F.col(vec_col).alias("p")).distinct(), "p", self.k
        )
        for i, c in enumerate(seeds):
            self.centroids[i] = c

    def update(self, batch: DataFrame, vec_col: str = "point") -> None:
        """One mini-batch update: distributed assign, then one global
        aggregate whose single row holds ``count_if(prediction = i)``
        and ``sum(if(prediction = i, point[d], 0D))`` for every cluster
        i and dimension d, then the O(k*dim) driver-side rule.  Adding
        exact zeros leaves each sum as a keyed groupBy would compute it,
        and the only shuffle carries one partial row per map task, so
        no session conf needs changing.  A cluster with no point this
        batch keeps its centroid and decays its weight."""
        # the model no longer matches any snapshot: if this batch dies
        # before snapshot(), align() must reload instead of replaying
        # the batch on top of this update
        self._cursor = None
        self._maybe_seed_from_batch(batch, vec_col)
        assigned = assign(batch.select(F.col(vec_col).alias("point")),
                          self._centroid_pairs(), vec_col="point",
                          dim=self.dim)
        terms = []
        for i in range(self.k):
            terms.append(f"count_if(prediction = {i}) AS m{i}")
            terms += [
                f"sum(if(prediction = {i}, element_at(point, {d + 1}), 0D))"
                f" AS s{i}_{d}"
                for d in range(self.dim)
            ]
        row = assigned.selectExpr(*terms).collect()[0]
        for i in range(self.k):
            m = float(row[f"m{i}"])
            n = self.weights[i] * self.decay
            if m == 0:
                # unseen this batch: decay only, never (c*n + 0) / n
                self.weights[i] = n
                continue
            denom = n + m
            self.centroids[i] = [
                (self.centroids[i][d] * n + row[f"s{i}_{d}"]) / denom
                for d in range(self.dim)
            ]
            if self.round_state is not None:
                self.centroids[i] = [
                    round(x, self.round_state) for x in self.centroids[i]
                ]
            self.weights[i] = denom

    def update_and_assign(self, batch: DataFrame, vec_col: str = "point") -> DataFrame:
        """Train on the batch, then predict the same batch with the
        *updated* model — the reference's trainOn-then-predict order
        (ClusterAnalyser.scala:33,41)."""
        self.update(batch, vec_col)
        return assign(
            batch,
            self._centroid_pairs(),
            vec_col=vec_col,
            dim=self.dim,
        )

    # -- restart fault tolerance -------------------------------------
    #
    # Structured Streaming checkpoints SOURCE offsets, not this
    # driver-held model: after a crash, foreachBatch re-delivers the
    # uncommitted batch to a process whose model is back at __init__.
    # These two methods close that gap with the standard foreachBatch
    # state-versioning pattern: snapshot the O(k*dim) post-update
    # state per batch_id, and on every batch entry roll the model to
    # exactly the post-(batch_id - 1) state — a replayed batch then
    # recomputes the identical update, and a fresh process resumes as
    # if never killed.  Snapshots are tiny JSON files written
    # atomically (tmp + os.replace), and only the newest two are kept.

    _cursor: int | None = None

    def _state_path(self, state_dir: str, batch_id: int) -> str:
        import os

        return os.path.join(state_dir, f"b{batch_id}.json")

    def snapshot(self, state_dir: str, batch_id: int) -> None:
        """Atomically persist post-``batch_id`` model state, then prune
        every snapshot but the newest two.  Call as the LAST step of
        the foreachBatch body (after the sink write: a crash in between
        replays the batch against the prior snapshot, and an idempotent
        sink absorbs the rewrite).

        Two, because the restart path needs both: a crash after
        snapshot(N) but before the offset commit replays batch N, whose
        align() must load snapshot b(N-1)."""
        import json as _json
        import os
        import re as _re

        os.makedirs(state_dir, exist_ok=True)
        tmp = self._state_path(state_dir, batch_id) + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(
                {"centroids": self.centroids, "weights": self.weights}, fh
            )
        os.replace(tmp, self._state_path(state_dir, batch_id))
        self._cursor = batch_id
        ids = sorted(
            int(m.group(1))
            for f in os.listdir(state_dir)
            if (m := _re.fullmatch(r"b(-?\d+)\.json", f))
        )
        for old in ids[:-2]:
            os.remove(self._state_path(state_dir, old))

    def align(self, state_dir: str, batch_id: int) -> None:
        """Roll the model to the exact post-(``batch_id`` - 1) state
        before processing ``batch_id``.  No-op when this process just
        completed batch_id - 1 (the common sequential case); otherwise
        load the snapshot (restart/replay), or reset to the pristine
        __init__ state when no prior snapshot exists (first batch)."""
        import json as _json
        import os

        if self._cursor == batch_id - 1:
            return
        path = self._state_path(state_dir, batch_id - 1)
        if os.path.exists(path):
            with open(path) as fh:
                st = _json.load(fh)
            self.centroids = [[float(x) for x in c] for c in st["centroids"]]
            self.weights = [float(w) for w in st["weights"]]
        else:
            # nothing committed yet: replay of the very first batch
            fresh = StreamingKMeans(
                self.k, self.dim, self.decay, self._seed, self.round_state
            )
            self.centroids, self.weights = fresh.centroids, fresh.weights
        self._cursor = batch_id - 1


def _spread_seeds(distinct, vec_col: str, k: int) -> list[list[float]]:
    """Evenly-spaced seed vectors over the lexicographic order of the
    DISTINCT vectors, selected in ONE job (round-9: was count +
    collect = two): rank and total-count share the same unpartitioned
    window task, and the k index expressions round(i*(n-1)/(kk-1))+1
    are evaluated per-row from the windowed n.  Rounding contract:
    F.round is HALF_UP, and .5 ties ARE reachable whenever k-1 is
    even (k=3: mid rank hits .5 for any n ≡ 2 mod 4; only the odd
    k-1 Lloyd case is tie-free).  HALF_UP is therefore the pinned
    convention on BOTH sides — every kmeans DuckDB oracle computes
    the same ranks with DuckDB round() (half-away-from-zero, equal to
    HALF_UP for these positive arguments); see
    _minibatch_kmeans_parts and
    tests/test_properties.py::test_minibatch_seed_midrank_tie_parity."""
    from pyspark.sql import Window

    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = distinct.select(
        F.col(vec_col).alias("_p"),
        F.row_number().over(Window.orderBy(vec_col)).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    n_col, rn = F.col("n"), F.col("rn")
    kk_col = F.least(F.lit(k), n_col)
    is_seed = (kk_col == 1) & (rn == 1)
    for i in range(k):
        # kk == 1 rows do evaluate (i*(n-1))/(kk-1) = x/0.0 — safe
        # because DOUBLE division never errors under ANSI (yields
        # NaN/Inf), and round(NaN)+1 / round(Inf)+1 never equals a
        # finite rn; such rows are seeded by the (kk==1 & rn==1) arm
        is_seed = is_seed | (
            (F.lit(i) < kk_col)
            & (kk_col > 1)
            & (rn == F.round(F.lit(i) * (n_col - 1) / (kk_col - 1)) + 1)
        )
    rows = ranked.where(is_seed).orderBy("rn").collect()
    return [[float(x) for x in r["_p"]] for r in rows]
