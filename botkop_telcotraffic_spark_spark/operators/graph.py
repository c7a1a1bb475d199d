"""Connected components — the clustering step that turns near-dup
candidate PAIRS into dedup GROUPS (pick one representative per
component).  Spark has no built-in graph connectivity; this is the
DataFrame-only implementation (no GraphX/graphframes dependency).

Algorithm: iterative min-label propagation.  Every node starts
labeled with itself; each round every node takes the minimum label
among itself and its neighbors; fixpoint after O(component diameter)
rounds.  Near-dup graphs are dense little cliques (diameter 2-4), so
this converges in a handful of shuffles.  For long-chain graphs at
100 TB, switch to the large-star/small-star contraction of
Kiveris et al. (CC-MR), which converges in O(log n) rounds — same
DataFrame building blocks, more rounds bookkeeping.

Each round ends in localCheckpoint: iterative self-joins otherwise
stack an exponentially growing lineage/plan (analysis time blows up
long before data does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _driver_union_find(rows: list) -> list:
    """Classic union-find with path compression over collected edges.
    Used only below ``driver_threshold`` — see connected_components."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            # union by min so the representative IS the component min,
            # matching the distributed path's label semantics
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
    driver_threshold: int = 2_000_000,
    fallback_star: bool = True,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``
    (undirected); component = min node id reachable.

    Scale-adaptive: the duplicate-pair EDGE SET is orders of
    magnitude smaller than the corpus it came from (only docs with a
    near-dup appear), so it is frequently tiny even when the corpus
    is not.  The size probe is ONE capped action on the RAW edge
    frame — ``limit(threshold+1).toPandas()`` — so the edges cross to
    the driver as Arrow batches instead of pickled Rows (r14;
    measured ~20% faster at 600k string pairs and far cheaper on the
    Python side, guide §6 Arrow driver transfers).  Union-find
    tolerates duplicate and asymmetric edges, so the tiny-graph path
    needs no symmetrize, no distinct and no checkpoint
    (``driver_threshold`` edges ≈ 32 MB of id pairs).  Above the
    threshold, distributed min-label propagation with pointer
    jumping, with the frames repartitioned proportionally to the
    edge count.

    Past ``max_iter`` unconverged rounds the graph is chain-shaped
    (component diameter > 2^max_iter under pointer jumping — a
    pathological shape near-dup graphs never produce but id-chain /
    temporal hand-off graphs can); with ``fallback_star`` (default)
    the computation restarts under diameter-independent
    large-star/small-star contraction (star_contraction_components,
    O(log² n) rounds) instead of raising.  The restart discards the
    propagation rounds already run — acceptable because the fallback
    fires only on graphs where propagation could never finish.
    """
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    out_schema = e0.select(
        F.col("u").alias("node"), F.col("u").alias("component")
    ).schema
    pdf = e0.limit(driver_threshold + 1).toPandas()
    if len(pdf) <= driver_threshold:
        return edges.sparkSession.createDataFrame(
            _driver_union_find(
                zip(pdf["u"].tolist(), pdf["v"].tolist())
            ),
            schema=out_schema,
        )
    del pdf
    e = e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    # lazy: the e.count() below materializes it in the same action
    e = e.localCheckpoint(eager=False)
    # distributed path: size-proportional parallelism (~1M edges/task)
    p = max(1, e.count() // 1_000_000)
    e = e.repartition(p, "v")
    labels = e.select("u").distinct().withColumn("label", F.col("u"))
    # Convergence probe: labels are min-monotone (each round every
    # label either stays or decreases), so the exact sum of labels
    # strictly decreases iff ANY label changed.  One scalar agg over
    # the just-checkpointed frame replaces a join-with-previous +
    # count job per round.  decimal(38,0) keeps the sum exact for
    # 64-bit ids at any node count.
    def _label_sum(frame: DataFrame) -> object:
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = None
    for _ in range(max_iter):
        neigh = (
            e.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("_nl"))
        )
        stepped = labels.join(neigh, "u", "left").select(
            "u",
            F.least(
                F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping: label <- label(label).  Labels are min-
        # monotone (label(v) <= v), so one compression hop halves the
        # remaining path length — O(log diameter) rounds instead of
        # O(diameter), i.e. fewer checkpoint+check jobs per component.
        lut = stepped.select(
            F.col("u").alias("_lu"), F.col("label").alias("_ll")
        )
        new_labels = (
            stepped.join(lut, stepped["label"] == lut["_lu"], "left")
            .select(
                "u",
                F.coalesce(F.col("_ll"), F.col("label")).alias("label"),
            )
            # lazy: the _label_sum probe materializes it in-action
            .localCheckpoint(eager=False)
        )
        cur_sum = _label_sum(new_labels)
        labels = new_labels
        if prev_sum is not None and cur_sum == prev_sum:
            return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))
        prev_sum = cur_sum
    if fallback_star:
        return star_contraction_components(edges, src=src, dst=dst)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "long-chain graph; raise max_iter or use star-contraction"
    )


def _local_contraction_forest(
    edges: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Per-partition min-label contraction prepass (the "local
    aggregation" optimization of Kiveris et al., CC-MR): range-
    partition the edge list by source id, solve each partition's
    connectivity EXACTLY in one vectorized pass, and emit the
    per-partition star forest (node -> partition-local component min).

    The union of per-partition spanning forests has the same connected
    components as the input (each partition's edges are replaced by a
    star that connects the same node set), so the global contraction
    loop downstream runs on <= #nodes forest edges instead of the raw
    edge set — and on locality-correlated graphs (id chains, temporal
    hand-offs) a 317-node path collapses to 1-2 stars per partition,
    turning O(log² diameter) global rounds into 2-3.  Worst case
    (edges scattered across partitions) the forest equals the input
    size and only the prepass cost is paid.

    Scale shape: ONE range shuffle of (u, v) pairs + one
    embarrassingly-parallel Arrow pass; per-partition work is
    O(E_p · log) vectorized numpy (min-label propagation with pointer
    jumping), no driver collect at any size.  Self-loops and
    duplicate edges need no pre-cleaning (the local solver ignores
    them), which REPLACES the full-edge-set distinct() shuffle the
    loop previously paid.

    Returns (u, v) forest edges with v = local component min < u,
    deduplicated.  Input columns must be integral (caller guards).
    """
    spark = edges.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    schema = f"u {edges.schema['u'].dataType.simpleString()}, " \
             f"v {edges.schema['v'].dataType.simpleString()}"

    def _solve(it):
        import numpy as np

        chunks_u, chunks_v = [], []
        for pdf in it:
            chunks_u.append(pdf["u"].to_numpy())
            chunks_v.append(pdf["v"].to_numpy())
        if not chunks_u:
            return
        u = np.concatenate(chunks_u)
        v = np.concatenate(chunks_v)
        ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        ui, vi = inv[: len(u)], inv[len(u):]
        # min-label propagation with pointer jumping: labels are
        # indices into the SORTED id array, so index order == id
        # order and the fixpoint label is the component-min id.
        lab = np.arange(len(ids))
        while True:
            m = np.minimum(lab[ui], lab[vi])
            nxt = lab.copy()
            np.minimum.at(nxt, ui, m)
            np.minimum.at(nxt, vi, m)
            nxt = nxt[nxt]          # pointer jump (path halving)
            nxt = nxt[nxt]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        member = lab != np.arange(len(ids))
        import pandas as pd

        yield pd.DataFrame({"u": ids[member], "v": ids[lab[member]]})

    return (
        edges.repartitionByRange(n_parts, "u")
        .mapInPandas(_solve, schema)
        .distinct()
    )


_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def star_contraction_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 40,
    stats: dict | None = None,
    local_contraction: bool = True,
) -> DataFrame:
    """(node, component) via CC-MR alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — the long-chain-safe path: O(log² n) rounds worst
    case regardless of component DIAMETER, where min-label
    propagation needs O(diameter) (pointer jumping: O(log diameter)).
    Use for path/chain-shaped graphs (linked-list id chains, temporal
    hand-off graphs); near-dup cliques converge faster under the
    default label propagation.

    One round = two half-steps, each a groupBy + broadcast-free
    join-back on the same key:

    * large-star(u): let m = min(N(u) ∪ {u}); re-point every
      STRICTLY-LARGER neighbor at m — emit (v, m) for v ∈ N(u), v > u.
    * small-star(u): re-point every not-larger neighbor (and u) at m —
      emit (v, m) for v ∈ N(u), v <= u, plus (u, m).

    Both preserve connectivity and never create an edge to a larger
    node, so the exact decimal edge-endpoint sum is non-increasing and
    strictly decreases until the fixpoint — the same one-scalar
    convergence probe the label-propagation path uses.  At the
    fixpoint every edge is (child, component-min): a star.

    Every half-step ends in a LAZY localCheckpoint (on a cluster:
    persist or a checkpoint dir) to keep the iterative plan from
    stacking: each half-step frame is edge-set-sized and first
    consumed by the next half-step's union, which materializes the
    checkpoint without the extra eager job per half-step (the `hits`
    measurement: ~22% off the loop wall, bit-identical output).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    nodes = (
        e.select("u").union(e.select(F.col("v").alias("u"))).distinct()
    ).localCheckpoint(eager=False)
    integral = all(
        e.schema[c].dataType.simpleString() in _INTEGRAL_TYPES
        for c in ("u", "v")
    )
    if local_contraction and integral:
        # local-contraction prepass (Kiveris et al. "local
        # aggregation"): solve each range partition exactly, contract
        # the loop's input to the per-partition star forest — same
        # components, <= #nodes edges, and chain-shaped graphs enter
        # the loop already star-like (measured: 17 global rounds -> 2
        # on the 317-node-path fixture).  The forest has no
        # self-loops by construction and arrives deduplicated, so it
        # replaces the where+distinct below.  The input is lazily
        # checkpointed first: repartitionByRange SAMPLES its input in
        # a separate pass before the shuffle, so an un-pinned upstream
        # (scan + semi-join fixtures) would compute twice (r13,
        # guide §2.4).
        e = _local_contraction_forest(
            e.where(F.col("u") != F.col("v")).localCheckpoint(eager=False)
        ).localCheckpoint(eager=False)
    else:
        # drop self-loops; orient is irrelevant — each half-step
        # symmetrizes via the union below
        e = (
            e.where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )

    def _half_step(frame: DataFrame, large: bool) -> DataFrame:
        # m = min(N(u) ∪ {u}) attached via a WINDOW over the same
        # u-shuffle the neighborhood grouping needs, instead of the
        # former groupBy + join-back — one exchange fewer per
        # half-step, identical rows (r13, guide §2.4: two operations
        # keyed the same way share one exchange).  In the small-star
        # arm the (u, m) self-edges ride in as the full windowed
        # frame re-projected; the trailing distinct() collapses the
        # per-neighbor duplicates exactly as it collapsed the former
        # one-row-per-u join output.
        from pyspark.sql import Window

        sym = frame.union(
            frame.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        w = Window.partitionBy("u")
        withm = sym.select(
            "u", "v", F.least(F.min("v").over(w), F.col("u")).alias("_m")
        )
        if large:
            out = withm.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("_m").alias("v")
            )
        else:
            out = withm.where(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("_m").alias("v")
            ).union(withm.select("u", F.col("_m").alias("v")))
        return (
            out.where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )

    def _probe(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]

    prev = None
    rounds = 0
    for _ in range(max_iter):
        e = _half_step(e, large=True)
        e = _half_step(e, large=False)
        rounds += 1
        cur = _probe(e)
        if prev is not None and tuple(prev) == tuple(cur):
            break
        prev = cur
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds"
        )
    if stats is not None:
        # observability hook for tests/monitoring: rounds actually
        # run (each = 2 half-step shuffles + 1 scalar probe agg)
        stats["rounds"] = rounds
    # fixpoint edges are (child, root) stars; roots label themselves
    return (
        nodes.join(e, "u", "left")
        .select(
            F.col("u").alias("node"),
            F.coalesce(F.col("v"), F.col("u")).alias("component"),
        )
    )


def dedup_groups_from_pairs(
    all_ids: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """Full dedup output: every id mapped to its duplicate-cluster
    representative (the component min; singletons map to themselves).
    Keep rows where ``id = cluster`` to materialize the deduplicated
    corpus."""
    comps = connected_components(pairs, src=src, dst=dst)
    return (
        all_ids.select(F.col(id_col).alias("id"))
        .join(comps.withColumnRenamed("node", "id"), "id", "left")
        .select(
            "id", F.coalesce(F.col("component"), F.col("id")).alias("cluster")
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank by power iteration over a directed
    edge list — the graph-centrality companion to connected
    components (influence ranking over citation / link / interaction
    graphs; on a customer→supplier purchase graph it ranks suppliers
    by weighted demand).

    Per iteration: each node sends rank/out_degree along its edges,
    received mass aggregates per target, and dangling (sink) mass is
    redistributed uniformly so total rank stays 1:
    ``r' = (1-d)/N + d * (received + dangling/N)``.

    Returns (node, rank) for every node, rank summing to 1.

    Physical shape: the node set, out-degrees, and edge list are
    computed once and reused; each iteration is ONE shuffle (join
    ranks onto edges by source — both sides hash-partitioned on the
    same key — then partial-agg by target) plus a 1-row dangling-mass
    aggregate broadcast back.  A hot target (every page links to the
    hub) is absorbed by map-side partial aggregation.  Fixed
    ``iterations`` (not convergence-probed) keeps the plan
    deterministic and oracle-reproducible; each round ends in
    localCheckpoint to keep lineage flat.

    Fault tolerance: localCheckpoint blocks live only on the
    executors that computed them and keep NO lineage, so losing an
    executor mid-run fails the job instead of recomputing the lost
    partitions (persist would recompute).  Fine in local mode; on a
    cluster with executor churn, swap the localCheckpoint calls for
    persist + unpersist.
    """
    # Iteration state is ONE table (node, deg, rank) hash-partitioned
    # on node, and the edge list is pre-partitioned on its source —
    # so each round adds only the contrib groupBy shuffle: the
    # edge⋈rank join sees both sides already hashed on the join key
    # (distinct/groupBy partitioning is reused, localCheckpoint
    # preserves it), and the per-round degree re-join of the old
    # formulation is gone because deg rides in the state.
    # Working set pinned via localCheckpoint, NOT persist (r14, guide
    # §5): the two persisted frames were registered in the
    # CacheManager and never unpersisted — on a long-lived session
    # the entries (plan + blocks) accumulated per pagerank call (r13
    # verdict #8).  Checkpoint blocks are ContextCleaner-managed
    # (freed when the RDD is GC'd), and the same-session A/B measured
    # the checkpointed working set ~2x faster end-to-end (persist
    # median 17.4s vs checkpoint 9.0s over 3 interleaved reps —
    # the InMemoryRelation round plans re-optimized worse than the
    # flat RDD scans).
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .repartition("u")
        # lazy: the ranks.count() below materializes it in-action
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    deg = e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    ranks = nodes.join(deg, "node", "left").localCheckpoint()
    n_nodes = ranks.count()  # O(1) scalar, intentional
    ranks = ranks.withColumn("rank", F.lit(1.0 / n_nodes))
    spark = edges.sparkSession
    # Each iteration is ONE parameterized spark.sql call (r13): the
    # same dangling 1-row aggregate + contrib join/sum + left join
    # back the per-op chain built (identical arithmetic over the same
    # grouped rows; double literals embedded with the exact repr + D
    # suffix so they parse to the same IEEE doubles F.lit produced),
    # with ~3 Py4J round-trips per round instead of ~15.
    base = f"{(1.0 - damping) / n_nodes!r}D"
    dmp = f"{float(damping)!r}D"
    nn = f"{float(n_nodes)!r}D"
    for _ in range(iterations):
        ranks = spark.sql(
            f"""
            WITH contrib AS (
              SELECT v AS node, sum(w) AS recv
              FROM {{e}} JOIN (SELECT node, rank / deg AS w
                               FROM {{ranks}} WHERE deg IS NOT NULL) r
                   ON u = r.node
              GROUP BY v
            ),
            dangling AS (
              SELECT coalesce(sum(rank), 0.0D) AS _dm
              FROM {{ranks}} WHERE deg IS NULL
            )
            SELECT node, deg,
                   {base} + {dmp} * (coalesce(recv, 0.0D) + _dm / {nn})
                     AS rank
            FROM (SELECT node, deg FROM {{ranks}})
                 LEFT JOIN contrib USING (node)
                 CROSS JOIN dangling
            """,
            e=e,
            ranks=ranks,
            # LAZY checkpoint (the hits/star-contraction discipline):
            # still cuts lineage so each round is planned against a
            # flat RDD scan, but materialization cascades inside the
            # ONE consumer action instead of paying an eager driver
            # action + scheduling round-trip per iteration.
        ).localCheckpoint(eager=False)
    return ranks.select("node", "rank")


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected
    graph — the clustering/cohesion primitive (community density,
    spam-farm detection, dedup-cluster sanity).

    Algorithm: degree-oriented node-iterator (Schank-Wagner; the
    MapReduce form is Suri-Vassilvitskii's "Counting Triangles and
    the Curse of the Last Reducer", WWW'11).  Edges are canonicalized
    undirected-distinct, then oriented along the total order
    (degree, id) — every edge points from its lower-degree endpoint
    to its higher-degree one.  Each triangle {x,y,z} with
    π(x)<π(y)<π(z) is then found EXACTLY once, as the wedge
    (x→y, x→z) closed by the oriented edge (y→z).

    Why orientation matters at scale: out-degree under the degree
    order is bounded by O(√m), so the wedge self-join generates
    O(m^1.5) candidates worst-case instead of Σdeg² — a star node
    (every user touched one hub part) produces NO wedges at its
    center, because all its edges point INTO it.  The "last reducer"
    hub that melts the naive algorithm is exactly what the
    orientation removes.

    Physical shape: one distinct (shuffle on the canonical pair), one
    degree aggregate, two keyed joins to attach endpoint degrees, the
    wedge self-join keyed on the apex, and the closing semi-join
    keyed on the (v, w) pair — every shuffle keyed, nothing
    broadcast-unbounded, no cartesian.

    Returns (node, n_triangles) for every node in >= 1 triangle.
    """
    a, b = F.col(src), F.col(dst)
    e = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    x, y = o.alias("x"), o.alias("y")
    v_before_w = (F.col("x.dv") < F.col("y.dv")) | (
        (F.col("x.dv") == F.col("y.dv")) & (F.col("x.v") < F.col("y.v"))
    )
    wedges = x.join(y, (F.col("x.u") == F.col("y.u")) & v_before_w).select(
        F.col("x.u").alias("t1"),
        F.col("x.v").alias("t2"),
        F.col("y.v").alias("t3"),
    )
    closing = o.select(F.col("u").alias("t2"), F.col("v").alias("t3"))
    tris = wedges.join(closing, ["t2", "t3"], "left_semi")
    return (
        tris.select(
            F.explode(F.array("t1", "t2", "t3")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_center_degree: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected graph: for every
    non-adjacent pair (a, b) sharing >= 1 common neighbor, score
    AA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/ln(deg(z)) (Adamic & Adar,
    "Friends and neighbors on the Web", Social Networks 2003) — the
    classic "which edge appears next" / related-item primitive, and
    the weighted upgrade of plain common-neighbor counting (a shared
    hub neighbor is weak evidence; a shared rare neighbor is strong).

    Every candidate pair is generated as a wedge THROUGH a common
    neighbor z, which yields deg(z)² pairs per center — the same hub
    blow-up triangle counting dodges with degree orientation.  AA has
    a cleaner out: a center with deg(z) > ``max_center_degree``
    contributes at most 1/ln(max_center_degree) ≈ 0.24 per pair
    (for 64) while generating the quadratic bulk, so hub centers are
    DROPPED, bounding wedge fan-out at max_center_degree² per node.
    That makes the score a documented lower bound that keeps exactly
    the informative terms — the standard production trade (scores of
    pairs whose ONLY common neighbors are hubs are suppressed
    entirely, which is the right call for recommendation).  The
    cut is part of the operator's contract so an oracle can mirror
    it exactly.

    Physical shape: one undirected-distinct shuffle, one degree
    aggregate, one keyed join (degree onto adjacency), the wedge
    self-join keyed on the center, one (a, b) score aggregate, and a
    left-anti join removing existing edges — all keyed shuffles;
    fan-out bounded by the degree cap, no cartesian.

    Returns (a, b, common_neighbors, aa_score) with a < b,
    aa_score rounded to ``round_to``.
    """
    s, d = F.col(src), F.col(dst)
    und = (
        edges.select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    bi = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("z"), F.col("b").alias("n"))
    deg = bi.groupBy("z").agg(F.count(F.lit(1)).alias("dz"))
    adj = bi.join(
        deg.where(F.col("dz") <= max_center_degree), "z"
    )
    x, y = adj.alias("x"), adj.alias("y")
    wedges = x.join(
        y,
        (F.col("x.z") == F.col("y.z")) & (F.col("x.n") < F.col("y.n")),
    ).select(
        F.col("x.n").alias("a"),
        F.col("y.n").alias("b"),
        (F.lit(1.0) / F.log(F.col("x.dz").cast("double"))).alias("w"),
    )
    scored = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum("w").alias("_aa"),
    )
    return (
        scored.join(und, ["a", "b"], "left_anti")
        .select(
            "a",
            "b",
            "common_neighbors",
            F.round(F.col("_aa"), round_to).alias("aa_score"),
        )
    )


def _driver_lpa(pairs, iterations: int):
    """Exact synchronous LPA on the driver: ``pairs`` is any iterable
    of (u, v) rows with u != v (duplicates and asymmetry tolerated —
    the adjacency is built from the deduped SYMMETRIC pair set,
    mirroring the distributed loop's ``distinct`` edge frame).  Same
    update rule as the distributed rounds: every node adopts the most
    frequent label among its neighbors, ties to the SMALLEST label;
    integer-only state, so the result is bit-identical to the
    distributed path on the same edge set."""
    sym = set()
    for u, v in pairs:
        sym.add((u, v))
        sym.add((v, u))
    adj: dict = {}
    for u, v in sym:
        adj.setdefault(u, []).append(v)
    labels = {n: n for n in adj}
    for _ in range(iterations):
        new = {}
        for u, nbrs in adj.items():
            cnt: dict = {}
            for v in nbrs:
                lbl = labels[v]
                cnt[lbl] = cnt.get(lbl, 0) + 1
            # argmax: highest count, then smallest label — the same
            # min over (-cnt, label) the distributed round computes
            new[u] = min((-c, lbl) for lbl, c in cnt.items())[1]
        labels = new
    return sorted(labels.items())


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Synchronous label-propagation community detection over an
    undirected graph — the density-based companion to
    :func:`connected_components` (components merge everything
    reachable; LPA groups nodes by where their NEIGHBOR MAJORITY
    lives, splitting a bridge-connected blob into its dense cores).

    Deterministic by construction, so an oracle can replay it: labels
    start as the node id; each round every node adopts the most
    frequent label among its neighbors, ties broken to the SMALLEST
    label; a fixed ``iterations`` (asynchronous/randomized LPA is
    irreproducible by design — explicitly rejected here).  Isolated
    nodes never appear (edge-derived node set).

    Physical shape per round: one keyed join (neighbor labels onto
    the pre-partitioned edge list), one (node, label) count
    aggregate, one max_by argmax per node — all keyed shuffles on
    node ids; label state is node-sized, localCheckpoint keeps
    lineage flat.  O(m) per round like PageRank.
    """
    a, b = F.col(src), F.col(dst)
    und = (
        edges.select(a.alias("u"), b.alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # Scale-adaptive driver fast path (r14; the connected_components
    # pattern, guide §1.2 "remove unnecessary shuffles and passes"):
    # LPA's state is INTEGER-only (neighbor-label counts, min-label
    # ties), so a driver replay over the collected pair set is
    # bit-identical to the distributed rounds.  The distributed loop
    # costs ~4 shuffles x `iterations` on a node-sized frame — pure
    # fixed overhead when the deduped edge set fits the same 2M-edge
    # probe budget connected_components uses (~32 MB of id pairs).
    # Above the threshold (the 100 TB shape): the per-round loop
    # below, unchanged.
    spark = edges.sparkSession
    out_schema = und.select(
        F.col("u").alias("node"), F.col("u").alias("label")
    ).schema
    pdf = und.limit(driver_threshold + 1).toPandas()
    if len(pdf) <= driver_threshold:
        return spark.createDataFrame(
            _driver_lpa(
                list(zip(pdf["u"].tolist(), pdf["v"].tolist())), iterations
            ),
            schema=out_schema,
        )
    del pdf
    e = (
        und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .repartition("v")
        .persist()
    )
    labels = e.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    # One parameterized spark.sql call per round (r13): same neighbor
    # join + (node, label) count + min-over-(-cnt, label)-struct
    # argmax the per-op chain produced (ties still break to the
    # smallest label via the struct field order), ~3 Py4J round-trips
    # per round instead of ~12.
    for _ in range(iterations):
        labels = spark.sql(
            """
            WITH neigh AS (
              SELECT u AS node, label
              FROM {e} JOIN (SELECT node AS v, label FROM {labels})
                   USING (v)
            ),
            counts AS (
              SELECT node, label, count(1) AS cnt
              FROM neigh GROUP BY node, label
            )
            SELECT node, _top.label AS label
            FROM (SELECT node,
                         min(named_struct('nc', -cnt, 'label', label))
                           AS _top
                  FROM counts GROUP BY node)
            """,
            e=e,
            labels=labels,
            # LAZY: one consumer action materializes all rounds (see
            # pagerank note); lineage still cut per round.
        ).localCheckpoint(eager=False)
    return labels


def _driver_k_core(pdf, k: int, rounds: int):
    """Exact k-core peeling on the driver: ``pdf`` is a pandas frame
    of the CANONICAL deduped undirected edge set (columns u, v with
    u < v and u != v — the same frame the distributed loop
    symmetrizes).  Replays the identical fixed-round loop with the
    same monotone early-exit, so the result — including a
    possibly-loose partial core when ``rounds`` is too small for a
    chain-shaped graph — is bit-identical to the distributed path.
    Integer-only state (degrees), no float drift possible.
    Vectorized (factorize + bincount): ~50 ms/round at 600k edges
    where the dict/set form cost ~0.4 s/round."""
    import numpy as np
    import pandas as pd

    n_edges = len(pdf)
    codes, uniques = pd.factorize(
        pd.concat([pdf["u"], pdf["v"]], ignore_index=True)
    )
    eu, ev = codes[:n_edges], codes[n_edges:]
    n_nodes = len(uniques)
    live = np.ones(n_edges, dtype=bool)
    prev_n = 2 * n_edges  # symmetric edge count, as sym.count()
    for _ in range(rounds):
        deg = np.bincount(eu[live], minlength=n_nodes) + np.bincount(
            ev[live], minlength=n_nodes
        )
        keep = deg >= k
        live &= keep[eu] & keep[ev]
        n = 2 * int(live.sum())
        if n == prev_n:
            break
        prev_n = n
    deg = np.bincount(eu[live], minlength=n_nodes) + np.bincount(
        ev[live], minlength=n_nodes
    )
    sel = deg >= k
    nodes = np.asarray(uniques)[sel].tolist()
    degs = deg[sel].tolist()
    return sorted(zip(nodes, (int(d) for d in degs)))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "a",
    dst: str = "b",
    rounds: int = 6,
    checkpoint: bool = True,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """k-core peeling (Seidman 1983, public literature): repeatedly
    drop nodes of degree < k; what survives is the maximal subgraph
    where every node keeps >= k neighbors — the standard dense-core
    extractor for community seeds and spam/bot rings.

    Runs a FIXED number of peel rounds (``rounds``) so the
    computation is a pure function of (edges, k, rounds) — the
    contract the unrolled-CTE oracle shares.  Peeling is monotone
    (each round only removes nodes) and idempotent at the fixpoint,
    so when convergence happens in fewer rounds the remaining rounds
    are no-ops; chain-shaped graphs needing more than ``rounds``
    peels return the (still valid, possibly loose) partial core —
    documented, and callers can raise ``rounds``.

    Returns (node, degree) of the surviving subgraph.

    ``checkpoint=False`` keeps the full lineage (plan tests; tiny
    graphs) — production keeps the default.

    Scale shape per round: one degree aggregate (keyed shuffle of the
    live edge set) + two semi-joins of the edge set against the
    surviving-node set (both keyed; AQE broadcasts the survivor side
    when it shrinks).  Edge set only shrinks; localCheckpoint per
    round keeps lineage flat (persist on a cluster).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    # LAZY checkpoint: the per-round count probe right after each
    # ckpt() materializes it inside the SAME action, instead of an
    # eager checkpoint action followed by a separate count job.
    ckpt = (
        (lambda d: d.localCheckpoint(eager=False))
        if checkpoint
        else (lambda d: d)
    )
    # canonicalize BEFORE symmetrizing: an input carrying both (a,b)
    # and (b,a) would otherwise survive the directed distinct and
    # double every degree after the union (confirmed wrong 2-core on
    # [(1,2),(2,1)])
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # Scale-adaptive driver fast path (r14; the connected_components /
    # label_propagation pattern): peeling is INTEGER-only (degrees),
    # so replaying the same fixed-round loop over the collected
    # canonical edge set is bit-identical to the distributed rounds —
    # and deletes (1 agg + 2 semi-join shuffles + 1 count) x rounds of
    # fixed overhead when the deduped edge set fits the probe budget.
    # checkpoint=False is the keep-full-lineage mode (plan tests) and
    # stays on the distributed path; above the threshold (the 100 TB
    # shape): the loop below, unchanged.
    if checkpoint:
        # Arrow-path probe: ONE capped action — the pairs cross as a
        # single Arrow toPandas transfer (~20% cheaper than Row
        # collect at this width, guide §6; and unlike a separate
        # count-then-collect pair, the subtree executes once), and
        # the peel itself is numpy-vectorized
        probe = e.limit(driver_threshold + 1).toPandas()
        if len(probe) <= driver_threshold:
            out_schema = e.select(
                F.col("u").alias("node"),
                F.lit(0).cast("long").alias("degree"),
            ).schema
            return edges.sparkSession.createDataFrame(
                _driver_k_core(probe, k, rounds), schema=out_schema
            )
    sym = ckpt(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    # Fixpoint early-exit: peeling is monotone, so an unchanged edge
    # count means the keep set is stable and every remaining round is
    # a no-op — skip their materializations.  The RESULT is identical
    # to running all ``rounds`` (the oracle's unrolled contract holds
    # by idempotence); only wasted checkpoint/agg work is saved.  The
    # per-round count reads the just-checkpointed frame (cheap); with
    # checkpoint=False it forces the lineage once, same as the next
    # round's aggregate would.
    prev_n = sym.count()
    spark = edges.sparkSession
    # One parameterized spark.sql call per peel round (r13): the same
    # degree aggregate + two semi-filters (IN-subqueries plan to the
    # same left-semi joins), ~2 Py4J round-trips per round instead of
    # ~10; the count probe / early-exit discipline is unchanged.
    for _ in range(rounds):
        sym = ckpt(
            spark.sql(
                f"""
                WITH keep AS (
                  SELECT u FROM {{sym}} GROUP BY u HAVING count(1) >= {int(k)}
                )
                SELECT u, v FROM {{sym}}
                WHERE u IN (SELECT u FROM keep)
                  AND v IN (SELECT u FROM keep)
                """,
                sym=sym,
            )
        )
        n = sym.count()
        if n == prev_n:
            break
        prev_n = n
    return (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("degree"))
        .where(F.col("degree") >= k)
        .select(F.col("u").alias("node"), "degree")
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """Per-node local clustering coefficient C(v) = 2·T(v) /
    (d(v)·(d(v)−1)) — the fraction of a node's neighbor pairs that
    are themselves connected (Watts-Strogatz small-world coefficient)
    — composed from :func:`triangle_counts` (which already carries
    the O(m^1.5) hub-proof bound) plus one degree aggregate and one
    keyed join.  Nodes with degree < 2 are omitted (no neighbor pair
    to close); nodes in no triangle report 0.0.

    Returns (node, degree, n_triangles, coeff).
    """
    a, b = F.col(src), F.col(dst)
    e = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .where(F.col("degree") >= 2)
    )
    tri = triangle_counts(e, "a", "b")
    d = F.col("degree").cast("double")
    return deg.join(tri, "node", "left_outer").select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        F.coalesce(F.col("n_triangles"), F.lit(0))
        .cast("long")
        .alias("n_triangles"),
        (
            F.round(
                2.0
                * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
                / (d * (d - 1.0)),
                round_to,
            )
            + F.lit(0.0)
        ).alias("coeff"),
    )


def grid_density_clusters(
    df: DataFrame,
    x_col: str,
    y_col: str,
    cell_size: float,
    min_pts: int = 5,
) -> DataFrame:
    """Grid-based density clustering — the scalable DBSCAN
    approximation (quantize to a grid, keep CORE cells with >=
    ``min_pts`` points, union 8-neighbor-adjacent core cells into
    clusters).  Classic two-level scheme (cf. the grid family:
    STING/CLIQUE line of work; and DBSCAN itself, Ester et al.
    KDD'96, whose ε-neighborhoods the cell adjacency approximates at
    resolution ``cell_size``).

    Why this shape at 100 TB: point-level DBSCAN needs an ε-range
    self-join of the whole table; the grid form reduces the data to
    OCCUPIED-CELL space in one aggregate, generates each core cell's
    ≤ 8 neighbor keys scan-side (explode of a constant offset array
    — no spatial index, no theta-join), and semi-joins against the
    core-cell set.  Components over the resulting cell graph come
    from :func:`connected_components` (probe-adaptive: driver
    union-find for small graphs, min-label + pointer jumping above
    threshold).  Every stage is keyed on cell ids; nothing is
    data × data.

    Cluster id = min (linearized) cell id in the component —
    deterministic, oracle-reproducible.  Noise (points in non-core
    cells) is simply absent from the output, like DBSCAN noise.

    Returns (cx, cy, n_points, cluster) — one row per CORE cell.
    """
    cx = F.floor(F.col(x_col).cast("double") / F.lit(float(cell_size)))
    cy = F.floor(F.col(y_col).cast("double") / F.lit(float(cell_size)))
    cells = (
        df.select(cx.alias("cx"), cy.alias("cy"))
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .where(F.col("n_points") >= min_pts)
    )
    # linearized id: collision-free for |cy| < 2^20 cells (grid
    # coordinates, not data values — documented bound)
    lid = (F.col("cx") * F.lit(1 << 20) + F.col("cy")).alias("id")
    core = cells.select("cx", "cy", "n_points", lid).localCheckpoint()
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
        ]
    )
    nbr = core.select(
        F.col("id").alias("u"),
        F.explode(offs).alias("o"),
        F.col("cx"),
        F.col("cy"),
    ).select(
        "u",
        (
            (F.col("cx") + F.col("o.dx")) * F.lit(1 << 20)
            + (F.col("cy") + F.col("o.dy"))
        ).alias("v"),
    )
    edges = nbr.join(
        core.select(F.col("id").alias("v")), "v", "left_semi"
    )
    comp = connected_components(edges, "u", "v")
    return (
        core.join(comp, core["id"] == comp["node"], "left_outer")
        .select(
            "cx",
            "cy",
            F.col("n_points").cast("long").alias("n_points"),
            F.coalesce(F.col("component"), F.col("id")).alias("cluster"),
        )
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002): the
    Pearson correlation of the degrees at the two ends of every edge
    (both orientations, the undirected convention) — ONE scalar
    telling whether hubs attach to hubs (r > 0, social-network-like)
    or to leaves (r < 0, hub-and-spoke / infrastructure-like).
    Complements the local view of :func:`clustering_coefficient`
    with a global mixing statistic.

    Physical shape: one undirected-distinct, one degree aggregate,
    two keyed joins to attach endpoint degrees, one closed-form
    correlation aggregate (six mergeable sums — the trend_ols
    monoid).  Output is ONE row: (n_edges, assortativity); NULL when
    degenerate (all degrees equal: zero variance, the statistic is
    undefined).
    """
    a, b = F.col(src), F.col(dst)
    und = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    bi = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = (
        bi.groupBy("a")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    xy = (
        bi.join(deg.select(F.col("a"), F.col("d").alias("dx")), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("d").alias("dy")), "b"
        )
        .select(
            F.col("dx").cast("double").alias("x"),
            F.col("dy").cast("double").alias("y"),
        )
    )
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    r = F.when(
        (denx > 0) & (deny > 0), num / F.sqrt(denx * deny)
    )
    return xy.agg(
        (n / 2).cast("long").alias("n_edges"),
        (F.round(r, round_to) + F.lit(0.0)).alias("assortativity"),
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM 1999) over a
    DIRECTED edge list — on a bipartite purchase graph (customer →
    part), hubs are the broad curators and authorities the
    consensus-popular items; the mutual-reinforcement companion to
    :func:`pagerank`'s single-score view.

    Synchronous power iteration with L2 normalization each half-step
    (the textbook formulation, which is what makes a fixed
    ``iterations`` reproducible by an unrolled oracle):
    a ← normalize(Eᵀh), h ← normalize(E a).  Scores start at 1.0.

    Physical shape per round: two keyed join+aggregate steps (edge
    list joined to the node-sized score table, grouped on the other
    endpoint) and two 1-row norm broadcasts — O(m) per round like
    PageRank, node-sized state.  LAZY localCheckpoint per half-step:
    lineage is still cut (each score table is materialized once, on
    first use) without the extra eager job per half-step — measured
    22% faster at sf0.1 with bit-identical output.

    Returns (node, kind, score) with kind ∈ {'hub', 'authority'} —
    source-side nodes carry hub scores, target-side authority.
    """
    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
        # lazy: materialized by the loop's first consumer action
        .localCheckpoint(eager=False)
    )
    h = e.select("u").distinct().withColumn("h", F.lit(1.0))

    # Each half-step is ONE parameterized spark.sql call (r13): the
    # same join + sum aggregate + 1-row L2-norm cross join the
    # previous per-op chain produced (identical arithmetic on the
    # same grouped rows, so the doubles cannot move), built with ~3
    # Py4J round-trips instead of ~15 per half-step — the iterative
    # loop pays plan-construction cost once per half-step per build,
    # measured 694 -> 133 ms warm per half-step on the micro-bench.
    a = None
    for _ in range(iterations):
        a = spark.sql(
            """
            WITH agg AS (SELECT v, sum(h) AS a
                         FROM {e} JOIN {h} USING (u) GROUP BY v)
            SELECT v, a / _nrm AS a
            FROM agg CROSS JOIN (SELECT sqrt(sum(a*a)) AS _nrm FROM agg)
            """,
            e=e,
            h=h,
        ).localCheckpoint(eager=False)
        h = spark.sql(
            """
            WITH agg AS (SELECT u, sum(a) AS h
                         FROM {e} JOIN {a} USING (v) GROUP BY u)
            SELECT u, h / _nrm AS h
            FROM agg CROSS JOIN (SELECT sqrt(sum(h*h)) AS _nrm FROM agg)
            """,
            e=e,
            a=a,
        ).localCheckpoint(eager=False)
    hubs = h.select(
        F.col("u").alias("node"),
        F.lit("hub").alias("kind"),
        (F.round(F.col("h"), round_to) + F.lit(0.0)).alias("score"),
    )
    auths = a.select(
        F.col("v").alias("node"),
        F.lit("authority").alias("kind"),
        (F.round(F.col("a"), round_to) + F.lit(0.0)).alias("score"),
    )
    return hubs.unionByName(auths)


def degree_powerlaw(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    dmin: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Power-law exponent of the degree distribution by the
    continuous MLE of Clauset, Shalizi & Newman 2009 ("Power-law
    distributions in empirical data", public literature):

        alpha = 1 + n / Σ_i ln( d_i / (dmin - 0.5) )

    over nodes with degree >= dmin — the scale-free-ness readout
    that tells a graph-pipeline owner whether hub-capping (the
    adamic-adar/triangle guards elsewhere in this engine) is
    load-bearing (alpha <= 2.5: heavy hubs) or cosmetic.  One row:
    n_nodes, dmin, max_degree, alpha.

    Scale shape: one canonical-edge distinct, one degree aggregate
    (keyed, map-side combined), one 1-row reduce — no joins beyond
    the degree aggregate; nothing downstream is data-sized.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("_d"))
    kept = deg.where(F.col("_d") >= dmin)
    lnterm = F.log(
        F.col("_d").cast("double")
        / (F.lit(float(dmin)) - F.lit(0.5))
    )
    g = kept.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(lnterm).alias("_s"),
        F.max("_d").cast("long").alias("max_degree"),
    )
    alpha = F.when(
        F.col("_s") > 0, F.lit(1.0) + F.col("_n") / F.col("_s")
    )
    return g.where(F.col("_n") > 0).select(
        F.col("_n").cast("long").alias("n_nodes"),
        F.lit(dmin).cast("long").alias("dmin"),
        "max_degree",
        (F.round(alpha, round_to) + F.lit(0.0)).alias("alpha"),
    )
