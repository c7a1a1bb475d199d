"""Embedding transformations for the vector-pipeline surface:
Johnson–Lindenstrauss random projection and symmetric int8
quantization (the two standard memory levers before ANN indexing —
JL cuts dimensionality with bounded pairwise-distance distortion,
int8 cuts bytes/dim 4x with bounded reconstruction error).

Both are deterministic by construction (no RNG): the JL matrix is
the Achlioptas sparse {+1, 0, -1} family derived from an integer
hash of (plane, dim) — the same shared-with-the-oracle recipe as the
LSH hyperplanes (similarity.py:44) — and quantization scales are
corpus maxima.  All vector math is sequential-fold column
expressions (F.expr, parsed once JVM-side), so DuckDB's
``list_reduce`` reproduces every value bit-identically.

Scale shape: JL is pure scan-side math (no shuffle at all).
Quantization needs the per-dim max — ONE 64-key aggregate (map-side
combined) collapsed to a single model-sized row broadcast back; the
fact table is never shuffled.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


JL_A = 1_315_423_911
JL_B = 2_654_435_761
JL_P = 1_000_000_007


def _jl_sign_sql(j: int) -> str:
    """Achlioptas sparse entry for output dim j as a SQL CASE over the
    lambda var d (1-based): +1 / -1 each with prob 1/6, 0 with 2/3.

    The (j, d) pair is hashed through a LARGE PRIME before the mod-6
    reduction: any direct polynomial mod 6 is period-6 in j (integer
    coefficients shift by multiples of 6), which would make rows j
    and j+6 identical and cap the projection's rank at 6 — the
    large-prime mix breaks the periodicity, so all out_dim rows are
    distinct (asserted by the unit test).  Products stay < 2·10¹¹,
    well inside 64-bit, identical in Spark and DuckDB."""
    return (
        f"(CASE ((({j * JL_A} + (d - 1) * CAST({JL_B} AS BIGINT))"
        f" % {JL_P}) % 6) "
        "WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END)"
    )


def jl_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 16,
) -> DataFrame:
    """Project ``dim``-vectors to ``out_dim`` with the sparse
    Achlioptas JL matrix, scaled by sqrt(3/out_dim) (the variance
    correction for the 2/3-sparse family).  E[|Px - Py|²] = |x - y|²;
    distortion concentrates as out_dim grows (JL lemma).

    Returns (id_col, proj: array<double> rounded to 6).  Scan-side
    only — compose with lsh/ivf_topk or quantize_int8 downstream.
    """
    if not 1 <= out_dim:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    s = math.sqrt(3.0 / out_dim)
    comps = ", ".join(
        "round("
        f"aggregate(transform(sequence(1, {dim}), d -> "
        f"CAST(element_at({vec_col}, d) AS DOUBLE) * {_jl_sign_sql(j)}), "
        f"CAST(0.0 AS DOUBLE), (a, x) -> a + x) * {s!r}, 6) + 0.0"
        for j in range(out_dim)
    )
    return df.select(
        F.col(id_col), F.expr(f"array({comps})").alias("proj")
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Symmetric per-dimension int8 quantization: scale_d =
    corpus-max |x_d| / 127, q_d = clamp(round(x_d · 127 / max_d)).
    Returns (id_col, qvec: array<int>, mse: double) where mse is the
    per-vector mean squared reconstruction error (sequential fold,
    rounded to 6) — the quality report that says whether int8 is
    safe for this corpus before the index rebuild.

    Physical shape: posexplode → ``dim``-key max aggregate →
    single-row sorted scale array (model-sized, broadcast back as a
    1-row cross join — the centroid pattern); quantization itself is
    scan-side.  All-zero dimensions quantize to 0 (guarded divisor).
    """
    sc = (
        df.select(F.posexplode(F.col(vec_col)).alias("d", "v"))
        .groupBy("d")
        .agg(F.max(F.abs(F.col("v").cast("double"))).alias("mx"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("d", "mx"))
            ).alias("_sm")
        )
        .select(
            F.transform(F.col("_sm"), lambda s: s["mx"]).alias("_scales")
        )
    )
    staged = df.select(F.col(id_col), F.col(vec_col)).crossJoin(
        F.broadcast(sc)
    )
    q_sql = (
        f"transform(sequence(1, {dim}), d -> CAST(least(127.0, "
        "greatest(-127.0, round(CASE WHEN element_at(_scales, d) > 0 "
        f"THEN CAST(element_at({vec_col}, d) AS DOUBLE) * 127.0 "
        "/ element_at(_scales, d) ELSE 0.0 END, 0))) AS INT))"
    )
    mse_sql = (
        f"round(aggregate(transform(sequence(1, {dim}), d -> "
        f"pow(CAST(element_at({vec_col}, d) AS DOUBLE) - "
        "CAST(element_at(_q, d) AS DOUBLE) * element_at(_scales, d) "
        f"/ 127.0, 2)), CAST(0.0 AS DOUBLE), (a, x) -> a + x) / {dim}, 6)"
        " + 0.0"
    )
    return (
        staged.withColumn("_q", F.expr(q_sql))
        .select(
            F.col(id_col),
            F.col("_q").alias("qvec"),
            F.expr(mse_sql).alias("mse"),
        )
    )


def sign_pack(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Binary (sign-bit) quantization: 1 bit/dim, the most aggressive
    embedding-compression lever (32x vs float32; Hamming distance then
    approximates angular distance — the classic SimHash/ITQ result).

    Bits are packed into two 32-bit halves carried as BIGINTs
    (``w_lo`` dims 1-32, ``w_hi`` dims 33-64) so downstream XOR +
    popcount never touches the sign bit of a 64-bit word — identical
    arithmetic in Spark and DuckDB.  Bit (d-1) of the half is set
    when x_d > 0 (ties-to-0 keeps exact-zero dims stable across
    engines).

    Scan-side only: one projection, no shuffle, no UDF.
    """
    if dim > 64:
        raise ValueError("sign_pack packs up to 64 dims (two 32-bit words)")
    half = (dim + 1) // 2
    lo = (
        f"aggregate(transform(sequence(1, {half}), d -> "
        f"IF(CAST(element_at({vec_col}, d) AS DOUBLE) > 0, "
        f"shiftleft(CAST(1 AS BIGINT), d - 1), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    hi = (
        f"aggregate(transform(sequence({half + 1}, {dim}), d -> "
        f"IF(CAST(element_at({vec_col}, d) AS DOUBLE) > 0, "
        f"shiftleft(CAST(1 AS BIGINT), d - {half + 1}), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    return df.select(
        F.col(id_col),
        F.expr(lo).alias("w_lo"),
        F.expr(hi).alias("w_hi"),
    )


def hamming_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
) -> DataFrame:
    """Top-k nearest neighbors under Hamming distance between
    sign-packed embeddings: (query_id, neighbor_id, hamming, rank) —
    the 1-bit companion to the cosine ANN family (scan the packed
    corpus with XOR+popcount instead of d multiplies; the standard
    first-stage filter before exact re-ranking at 100 TB).

    Self-matches excluded; rank ties broken on neighbor id.  The
    query side is small-by-contract (same as similarity.brute_force
    family): it is sign-packed, collected into a broadcast, and the
    corpus side is never shuffled — the only exchange is the final
    per-query top-k cut over corpus-partial candidates.
    """
    qp = sign_pack(queries, id_col, vec_col, dim).select(
        F.col(id_col).alias("query_id"),
        F.col("w_lo").alias("_qlo"),
        F.col("w_hi").alias("_qhi"),
    )
    cp = sign_pack(corpus, id_col, vec_col, dim).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("w_lo").alias("_clo"),
        F.col("w_hi").alias("_chi"),
    )
    dist = (
        F.bit_count(F.expr("_qlo").bitwiseXOR(F.expr("_clo")))
        + F.bit_count(F.expr("_qhi").bitwiseXOR(F.expr("_chi")))
    )
    pairs = (
        F.broadcast(qp)
        .crossJoin(cp)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("hamming", dist.cast("int"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "rank")
    )


def matryoshka_norms(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    prefixes: tuple[int, ...] = (8, 16, 32),
) -> DataFrame:
    """Matryoshka (MRL) truncation audit: for each prefix length k,
    the per-corpus distribution of retained-norm fraction
    |x[1..k]| / |x| — exactly the cosine between the zero-padded
    truncation and the full vector, i.e. the retrieval-quality proxy
    that says which prefix length is safe to serve.

    Returns one row per prefix: (prefix_dim, n, mean_frac, min_frac,
    p10_frac) — aggregate-only output (driver-hashable scalars).

    Physical shape: ONE scan — all prefix norms are folds over the
    same row, unpivoted with ``stack`` (rows × len(prefixes)) before
    a ``prefixes``-row aggregate; nothing but the tiny aggregate
    ever shuffles.
    """
    sq = (
        f"CAST(element_at({vec_col}, d) AS DOUBLE) * "
        f"CAST(element_at({vec_col}, d) AS DOUBLE)"
    )
    full = (
        f"sqrt(aggregate(transform(sequence(1, {dim}), d -> {sq}), "
        "CAST(0.0 AS DOUBLE), (a, x) -> a + x))"
    )
    pre_cols = [
        f"sqrt(aggregate(transform(sequence(1, {p}), d -> {sq}), "
        f"CAST(0.0 AS DOUBLE), (a, x) -> a + x)) / ({full}) AS _f{p}"
        for p in prefixes
    ]
    one = df.selectExpr(*pre_cols)
    stacked = ", ".join(f"{p}, _f{p}" for p in prefixes)
    fracs = one.selectExpr(
        f"stack({len(prefixes)}, {stacked}) AS (prefix_dim, _frac)"
    )
    return (
        fracs.groupBy("prefix_dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.round(F.avg("_frac"), 6) + F.lit(0.0)).alias("mean_frac"),
            (F.round(F.min("_frac"), 6) + F.lit(0.0)).alias("min_frac"),
            (
                F.round(F.expr("percentile(_frac, 0.1)"), 6) + F.lit(0.0)
            ).alias("p10_frac"),
        )
    )


def pq_codes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    codebook_k: int = 16,
    iterations: int = 2,
    train_cap: int = 4096,
) -> DataFrame:
    """Product quantization (Jégou-Douze-Schmid 2011, public
    literature): split each vector into ``m`` subvectors, train an
    independent ``codebook_k``-centroid codebook per subspace (batch
    Lloyd, deterministic data-spread seeding —
    ``kmeans_batch.lloyd_kmeans``), and encode every vector as ``m`` small
    codes — log2(k)·m bits/vector (8 bytes -> 2 for 64 dims at
    m=4, k=16) with far lower reconstruction error than scalar
    quantization at the same budget.

    Returns (id_col, code0..code{m-1}: int, mse: double) where mse is
    the per-vector mean squared reconstruction error over all dims
    (sum of per-subspace squared distances / dim, rounded to 6).

    Physical shape (round-6 rework): codebooks train on a BOUNDED
    DETERMINISTIC SAMPLE — per subspace, the distinct sorted
    subvectors are rank-sampled evenly at step ceil(n/train_cap), so
    training state is at most ``m * train_cap`` rows (~2 MB at the
    defaults) regardless of corpus size.  That sample is collected
    ONCE and Lloyd runs driver-side in numpy (model training on a
    bounded sample is driver/parameter-server work in every
    production recipe; the round-5 shape ran each round as a Spark
    job and paid 1 seed + ``iterations`` full fact scans, 6 s at
    sf0.1).  The fact table is now scanned exactly TWICE: once to
    build the training sample, once for encoding.  Encoding CHAINS
    ``m`` broadcast argmins on the fact scan (each adds columns, no
    joins) — the fact table is never shuffled.  At 100 TB this is
    the standard recipe: train on a capped sample, encode as a
    map-only pass.

    Determinism (oracle-mirrored): sample ranks are pure integer
    arithmetic on the per-subspace DISTINCT sorted rank (keep rows
    with (rn-1) % step == 0; resampled rank = (rn-1) DIV step + 1);
    seeding is k evenly-spaced resampled rows (round-half-away index
    formula — the lloyd_kmeans tie-impossibility argument holds for
    any n since k-1 = 15 is odd); means round to 9, empty clusters
    keep their previous centroid, argmin ties resolve to the lowest
    centroid id, matching the oracle's ``ORDER BY dist, prediction``.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    spark = df.sparkSession
    sub_dim = dim // m
    subs_expr = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("s"),
                    F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias(
                        "point"
                    ),
                )
                for s in range(m)
            ]
        )
    )
    pts = df.select(subs_expr.alias("_sp")).select("_sp.s", "_sp.point")
    # Bounded deterministic training sample: per-subspace rank AND
    # count from one window pass, then keep every step-th distinct
    # sorted subvector where step = ceil(n / train_cap) — at most
    # train_cap rows per subspace, pure integer arithmetic the oracle
    # reproduces verbatim.  Collected once; Lloyd runs driver-side.
    distinct = pts.distinct()
    ranked = distinct.select(
        "s",
        "point",
        F.row_number()
        .over(Window.partitionBy("s").orderBy("point"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy("s").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    train = (
        ranked.withColumn(
            "step", F.expr(f"CAST(ceil(n / {train_cap}.0) AS BIGINT)")
        )
        .where(F.expr("(rn - 1) % step = 0"))
        .select(
            "s",
            "point",
            F.expr("((rn - 1) DIV step) + 1").alias("rn"),
            F.expr("((n - 1) DIV step) + 1").alias("n"),
        )
    )
    # Seeding: evenly-spaced resampled ranks, evaluated in-SQL.  The
    # index formula round(i·(n-1)/(k-1)) + 1 matches the oracle
    # exactly; SQL round (half-away) vs Python round (half-even)
    # cannot diverge because 2·i·(n-1) = (k-1)·odd has no integer
    # solution for even LHS (the lloyd_kmeans tie-impossibility
    # argument).  n <= k degenerates to take-all.
    rows = train.orderBy("s", "rn").collect()

    # Driver-side Lloyd on the collected sample (model training on a
    # bounded sample is driver/PS work in every production recipe —
    # the sample is <= m * train_cap rows by construction, ~2 MB at
    # the defaults).  Arithmetic is kept ORACLE-BIT-FAITHFUL:
    # squared-distance accumulates SEQUENTIALLY over dims (the exact
    # left-fold order of DuckDB list_reduce and Spark F.aggregate —
    # numpy vectorizes over rows, never over the accumulation), ties
    # resolve to the lowest centroid id (np.argmin first-occurrence),
    # means use exact math.fsum then round to 9 (identical to
    # round(avg(x), 9) on non-midpoint doubles; exact decimal
    # midpoints are not representable in binary64).
    import math

    import numpy as np

    pts_by_s: dict[int, list[list[float]]] = {s: [] for s in range(m)}
    n_by_s: dict[int, int] = {}
    for r in rows:  # already (s, rn)-sorted
        pts_by_s[r["s"]].append([float(x) for x in r["point"]])
        n_by_s[r["s"]] = int(r["n"])

    def _round_half_away(x: float) -> int:
        # exact SQL-round semantics (DuckDB round() = half AWAY from
        # zero) for non-negative x: floor-subtraction of doubles is
        # exact, so the 0.5 comparison sees the true fractional part —
        # no floor(x + 0.5) representation bug, and correct for ALL
        # codebook_k (Python's round() is half-EVEN and would diverge
        # on exact .5 ties, which are possible whenever codebook_k is
        # odd — the k-1-odd tie-impossibility argument needs k even).
        f = math.floor(x)
        return f + 1 if x - f >= 0.5 else f

    cents: dict[int, list[list[float]]] = {}
    for s in range(m):
        n = n_by_s.get(s, 0)
        if n <= codebook_k:
            cents[s] = [list(p) for p in pts_by_s[s]]
            continue
        idx = sorted(
            {_round_half_away(i * (n - 1) / (codebook_k - 1)) for i in range(codebook_k)}
        )
        cents[s] = [list(pts_by_s[s][i]) for i in idx]

    for _ in range(iterations):
        for s in range(m):
            pts_s = pts_by_s[s]
            if not pts_s:
                continue
            V = np.asarray(pts_s, dtype=np.float64)  # (n, sub_dim)
            C = np.asarray(cents[s], dtype=np.float64)  # (k, sub_dim)
            acc = np.zeros((V.shape[0], C.shape[0]))
            for i in range(sub_dim):  # sequential over dims: fold order
                d = V[:, i, None] - C[None, :, i]
                acc += d * d
            # rank on sqrt'd distance, NOT squared: the oracle's
            # a{t}_{s} CTE ranks by sqrt(...) AS dist, and sqrt can
            # map two adjacent squared doubles onto one value — the
            # oracle would then tie-break to the lowest id while a
            # squared-space argmin picks the strictly smaller one.
            # np.sqrt is the same correctly-rounded op per element.
            pred = np.argmin(np.sqrt(acc), axis=1)  # first occ = lowest id
            for j in range(len(cents[s])):
                members = V[pred == j]
                if members.shape[0]:
                    # plain left-fold sum in member (rn) order — the
                    # op sequence DuckDB's avg() performs over the
                    # same rows — NOT math.fsum (exact) and NOT
                    # np.sum (pairwise): either can land on the other
                    # side of a round-to-9 boundary from the oracle.
                    def _fold_mean(col: "np.ndarray") -> float:
                        acc_ = 0.0
                        for v in col:
                            acc_ += float(v)
                        return acc_ / col.shape[0]

                    cents[s][j] = [
                        round(_fold_mean(members[:, i]), 9)
                        for i in range(sub_dim)
                    ]

    # Scan-side encode: ONE 1-row broadcast carries all m id-sorted
    # codebooks (the round-5 shape chained m separate broadcast
    # joins — m exchanges + m AQE stages of pure plan overhead); the
    # m argmins are sibling column expressions on a single projection
    # (kmeans.assign semantics: array_position first-occurrence over
    # the id-sorted array = lowest-id tiebreak, matching the oracle's
    # ORDER BY dist, prediction).
    from .kmeans import euclidean_sql

    combined = spark.createDataFrame(
        [tuple([(i, c) for i, c in enumerate(cents[s])] for s in range(m))],
        ", ".join(
            f"_c{s} array<struct<id:int,vec:array<double>>>" for s in range(m)
        ),
    )

    def _dists_sql(s_: int) -> str:
        # SQL-string twin of the previous transform(.., c ->
        # euclidean(slice(vec), c.vec)) Column build (r13): same
        # zip_with + left-fold tree, one JVM parse instead of ~m*25
        # Py4J constructions + lambda registrations per build
        sub = f"slice(`{vec_col}`, {s_ * sub_dim + 1}, {sub_dim})"
        return f"transform(_c{s_}, c -> {euclidean_sql(sub, 'c.vec')})"

    with_d = df.select(F.col(id_col), F.col(vec_col)).crossJoin(
        F.broadcast(combined)
    ).select(
        F.col(id_col),
        *[F.col(f"_c{s}") for s in range(m)],
        *[
            F.expr(_dists_sql(s)).alias(f"_d{s}")
            for s in range(m)
        ],
    )
    best = with_d.select(
        F.col(id_col),
        *[
            F.element_at(
                F.col(f"_c{s}"),
                F.array_position(
                    F.col(f"_d{s}"), F.array_min(F.col(f"_d{s}"))
                ).cast("int"),
            )["id"].alias(f"code{s}")
            for s in range(m)
        ],
        *[F.array_min(F.col(f"_d{s}")).alias(f"_dist{s}") for s in range(m)],
    )
    mse = F.col("_dist0") * F.col("_dist0")
    for s in range(1, m):
        mse = mse + F.col(f"_dist{s}") * F.col(f"_dist{s}")
    return best.select(
        F.col(id_col),
        *[F.col(f"code{s}") for s in range(m)],
        (F.round(mse / F.lit(float(dim)), 6) + F.lit(0.0)).alias("mse"),
    )


def centroid_drift(
    df: DataFrame,
    key_cols,
    split_col: str,
    vec_col: str = "embedding",
    dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-centroid drift monitor: per key, the cosine between
    the centroids of the two ``split_col`` halves (0/1 — e.g. old
    corpus snapshot vs new, train vs incoming) plus each half's
    count and centroid L2 norm — the "did the embedding distribution
    move" check a vector-index owner runs before deciding to
    re-train codebooks / re-balance IVF lists.  cos ~ 1: stable;
    falling cosine or a norm shift: re-index.

    Determinism: per-dimension means are ROUNDED to ``round_to``
    before the cosine (so the fold inputs are bit-identical across
    engines); the cosine itself is plain relational sums over the
    (key, dim) centroid table.

    Scale shape: one posexplode projection (scan-side), ONE keyed
    (key, half, dim) aggregate — map-side combined, output
    |keys|·2·dim rows — then centroid-table-sized joins and reduces.
    The fact table is scanned once and shuffled once on the
    aggregate key; nothing downstream is data-sized.
    """
    key_cols = list(key_cols)
    half = F.col(split_col).cast("int")
    pts = df.select(
        *key_cols,
        half.alias("_h"),
        F.posexplode(F.col(vec_col)).alias("_pos", "_x"),
    )
    cent = pts.groupBy(*key_cols, "_h", "_pos").agg(
        (
            F.round(F.avg(F.col("_x").cast("double")), round_to)
            + F.lit(0.0)
        ).alias("_c")
    )
    counts = df.groupBy(*key_cols).agg(
        F.sum(F.when(half == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(half == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    a = cent.where(F.col("_h") == 0).select(
        *key_cols, "_pos", F.col("_c").alias("_ca")
    )
    b = cent.where(F.col("_h") == 1).select(
        *key_cols, "_pos", F.col("_c").alias("_cb")
    )
    j = a.join(b, [*key_cols, "_pos"])
    g = j.groupBy(*key_cols).agg(
        F.sum(F.col("_ca") * F.col("_cb")).alias("_ab"),
        F.sum(F.col("_ca") * F.col("_ca")).alias("_aa"),
        F.sum(F.col("_cb") * F.col("_cb")).alias("_bb"),
    )
    cos = F.when(
        (F.col("_aa") > 0) & (F.col("_bb") > 0),
        F.col("_ab") / (F.sqrt("_aa") * F.sqrt("_bb")),
    )
    return g.join(counts, key_cols).select(
        *key_cols,
        "n_a",
        "n_b",
        (F.round(F.sqrt("_aa"), round_to) + F.lit(0.0)).alias("norm_a"),
        (F.round(F.sqrt("_bb"), round_to) + F.lit(0.0)).alias("norm_b"),
        (F.round(cos, round_to) + F.lit(0.0)).alias("centroid_cos"),
    )
