"""Deduplication operators for training-data pipelines (SURVEY.md §2.12).

Exact dedup is a hash groupBy; near-dup is shingle-set Jaccard via an
inverted-index self-join (the standard scalable pattern: explode to
(shingle, doc) postings, self-join on shingle, count intersections,
Jaccard from set sizes).  MinHash/LSH signatures use explicit integer
hash arithmetic over a global token dictionary so the DuckDB oracle
can reproduce them bit-exactly (engine hash builtins differ across
engines and would be unverifiable).

Scale notes
  * exact_dedup shuffles md5(text) group keys only — O(rows), skew-free.
  * jaccard_pairs prunes to pairs sharing >= 1 shingle; hot shingles
    (stopword-ish) can explode the posting join at 100 TB — the
    ``max_doc_freq`` knob drops shingles appearing in more than that
    many docs (standard df-pruning; drops only pairs whose *every*
    shared shingle is hot, which at sane thresholds is noise anyway).
  * minhash_signatures is a single groupBy over postings — the LSH
    band join then touches only candidate pairs, the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textfn  # noqa: F401  (A/B: shingle_token_udf)
from ..functions.textfn import (
    shingle_tokens_from_fps,
    shingle_tokens_sql,
    word_fingerprints,
    word_fingerprints_sql,
    words,
)

# MinHash parameters — plain affine hashes over token ranks, shared
# with the oracle SQL.  (a_j, b_j) generated from small primes.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
MINHASH_NUM = 16
MINHASH_A = [2 * j + 3 for j in range(MINHASH_NUM)]  # 3,5,7,...,33
MINHASH_B = [7 * j + 1 for j in range(MINHASH_NUM)]


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts: (doc_hash, keep_id, copies).

    keep_id = min id (deterministic representative); downstream
    dedup = semi-join ids against keep_id.
    """
    return df.groupBy(F.md5(F.col(text_col)).alias("doc_hash")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("copies")
    )


def token_postings(
    df: DataFrame, id_col: str, text_col: str, k: int, with_size: bool = False
) -> DataFrame:
    """(id, tok[, sz]) postings where tok is the deterministic
    rolling-hash fingerprint of each distinct k-shingle and sz the
    doc's distinct-shingle count.

    The integer id replaces a global rank dictionary: no global sort
    (a 100 TB bottleneck), identical values in the DuckDB oracle, and
    integer join/shuffle keys downstream.  Collisions (~|shingles|/1e9)
    merge two shingles for *both* engines identically.

    Pure-Catalyst higher-order functions: interpreted, but scan-wide
    parallel (load_table's parallelism floor) and with no Python
    worker boundary — measured faster warm AND cold than the
    Arrow-batched UDF alternative (textfn.shingle_token_udf, kept for
    A/B) at sf0.1.  The wf array is materialized in its own
    projection before the shingle fold so CollapseProject can't
    inline the char-fold into every shingle position (an
    O(words·shingles) per-row blowup).
    """
    # SQL-string construction (textfn.word_fingerprints_sql twin,
    # identical integers): one JVM parse per op instead of per-node
    # Py4J Column building, and the explode fused into the shingle
    # select when no size column is needed — plan-build time is paid
    # on every bench/driver run and once per streaming micro-batch
    # (r13: 0.39s -> 0.14s per minhash-chain build).
    base = df.selectExpr(
        f"`{id_col}` AS id",
        f"{word_fingerprints_sql(f'`{text_col}`')} AS wf",
    )
    tok_sql = f"array_distinct({shingle_tokens_sql('wf', k)})"
    if not with_size:
        return base.selectExpr("id", f"explode({tok_sql}) AS tok")
    toks_df = base.selectExpr("id", f"{tok_sql} AS toks")
    return toks_df.selectExpr(
        "id", "size(toks) AS sz", "explode(toks) AS tok"
    )


# "auto" spread probes max bucket width and spreads only past this;
# below it the extra exchange costs more than the skew it cures
AUTO_SPREAD_WIDTH = 256


def _spread_buckets(
    grouped: DataFrame,
    spread: bool | str,
    *keys: str,
    member_col: str = "xs",
) -> DataFrame:
    """Optionally pin pair-explosion parallelism before ``bucket_pairs``.

    AQE coalesces the grouped bucket relation by BYTES, but the pair
    explosion is O(width²) of its input — a byte-tiny coalesced
    partition can hide a compute-heavy Generate (the sf0.1 SimHash
    candidate stage runs in ONE task).  ``spread=True`` inserts one
    explicit exchange (user-specified partitioning — AQE won't
    re-coalesce it) so the explosion runs at full shuffle width.

    ``"auto"`` is the DEFAULT (round-5, carried advice r3#8/r4#8):
    with narrow buckets (df-pruned Jaccard, banded MinHash/SimHash at
    bench scale) the probe finds width ≤ AUTO_SPREAD_WIDTH and skips
    the exchange — the unconditional-spread cost (+0.2-0.3 s/query at
    sf0.1) is avoided, while a corpus with wide buckets (exactly when
    one coalesced task would serialize the quadratic work) gets the
    spread without anyone remembering the knob.  Pass ``False`` to
    skip the probe when the caller knows buckets are narrow.

    ``spread="auto"`` decides from the data: the grouped relation is
    localCheckpoint'ed (its shuffle would otherwise run twice) and a
    bounded one-row probe reads the max bucket width; the exchange is
    inserted only when it exceeds ``AUTO_SPREAD_WIDTH`` — i.e. when
    the quadratic work is large enough that serializing it in one
    coalesced task dominates the probe + exchange cost.  On a
    cluster, swap localCheckpoint for persist (same trade as the
    iterative graph ops).
    """
    if spread == "auto":
        # lazy: the width probe below materializes it in-action
        grouped = grouped.localCheckpoint(eager=False)
        width = grouped.agg(
            F.max(F.size(F.col(member_col))).alias("w")
        ).collect()[0]["w"]
        spread = bool(width is not None and width > AUTO_SPREAD_WIDTH)
    if not spread:
        return grouped
    n = int(grouped.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return grouped.repartition(n, *[F.col(k) for k in keys])


def bucket_pairs(grouped_members: "F.Column") -> "F.Column":
    """All ordered pairs (i < j) from a sorted array column — the
    pair-explosion half of the bucket-join pattern.  Members may be
    scalars or structs (struct comparison is lexicographic, so
    sorting on a leading id field makes every pair (a < b)).

    Replaces the two-sided shuffle self-join on the bucket key with
    ONE shuffle (the groupBy building the array) + a scan-side
    explode.  Per-bucket cost is O(df²) either way — at 100 TB cap
    bucket width first (df-pruning / band tuning), which the join
    strategy needs too.
    """
    return F.flatten(
        F.transform(
            grouped_members,
            lambda x, i: F.transform(
                F.slice(grouped_members, i + 2, F.size(grouped_members)),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    max_doc_freq: int | None = None,
    max_doc_freq_frac: float | None = None,
    spread: bool | str = "auto",
) -> DataFrame:
    """All candidate pairs (a < b) sharing >= 1 k-shingle with their
    Jaccard similarity: |A∩B| / (|A| + |B| - |A∩B|).

    Columns: a, b, inter, size_a, size_b, jaccard.

    df-pruning (``max_doc_freq`` absolute, or ``max_doc_freq_frac``
    as a fraction of the corpus row count, derived IN-PLAN — no extra
    action): shingles appearing in more docs than the threshold are
    dropped from the posting join.  This is the scale guard — one
    stop-shingle shared by f docs otherwise creates O(f²) candidate
    pairs.  Recall argument: a pruned shingle only loses a pair if
    EVERY shared shingle is hot; two genuinely near-dup docs share
    many shingles, nearly all corpus-rare, so at sane thresholds
    (1-2% of docs) only boilerplate-only overlap is dropped — which
    is noise, not near-duplication.  Set sizes stay computed over the
    FULL distinct-shingle set (pruning lowers inter, never sizes), so
    pruned-pair Jaccard is a conservative underestimate.

    Physical shape: ONE corpus scan and one postings shuffle.  Set
    sizes are computed scan-side off the materialized token array and
    ride through the bucket groupBy inside the (id, sz) struct, so no
    second scan and no join-back is needed; pairs explode scan-side
    (bucket_pairs) and the final groupBy keys carry both sizes.  The
    hot-shingle list is tiny by construction (bounded by P/threshold
    distinct values) and broadcast to an anti-join.
    """
    post = token_postings(df, id_col, text_col, k, with_size=True)
    if max_doc_freq is not None or max_doc_freq_frac is not None:
        freq = post.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        if max_doc_freq is not None:
            hot = freq.where(F.col("df") > F.lit(max_doc_freq))
        else:
            n = df.agg(F.count(F.lit(1)).alias("_n"))
            hot = freq.crossJoin(F.broadcast(n)).where(
                F.col("df") > F.col("_n") * F.lit(max_doc_freq_frac)
            )
        post = post.join(F.broadcast(hot.select("tok")), "tok", "left_anti")
    grouped = _spread_buckets(
        post.groupBy("tok").agg(
            F.sort_array(F.collect_list(F.struct("id", "sz"))).alias("xs")
        ),
        spread,
        "tok",
    )
    inter = (
        grouped.select(F.explode(bucket_pairs(F.col("xs"))).alias("p"))
        .groupBy(
            F.col("p.x.id").alias("a"),
            F.col("p.y.id").alias("b"),
            F.col("p.x.sz").alias("size_a"),
            F.col("p.y.sz").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = inter.withColumn(
        "jaccard",
        F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
    )
    return out.select("a", "b", "inter", "size_a", "size_b", "jaccard")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, wide: bool = False
) -> DataFrame:
    """(id, sig: array<bigint>) — MinHash signature of the doc's
    k-shingle set: sig[j] = min over shingle tokens of
    (a_j*tok + b_j) % P, with tok the rolling-hash fingerprint.

    Deterministic and oracle-reproducible (no engine hash builtins,
    no global sort); tok < 1e9+7 so a_j*tok stays far below 2^63.

    ``wide=True`` returns (id, h0..h15) scalar columns instead of the
    array — the externally-consumable shape (sortable, hashable by any
    downstream canonicalizer); the array variant stays the internal
    operator contract for the banding step.
    """
    post = token_postings(df, id_col, text_col, k)
    # ONE parameterized spark.sql call for the 16 min-hash aggregates
    # (r13): same expressions (previously 16 F.expr + 16 alias
    # round-trips), one parse.
    aggs = ", ".join(
        f"min(({a} * tok + {b}) % {MINHASH_P}) AS h{j}"
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    sig = post.sparkSession.sql(
        f"SELECT id, {aggs} FROM {{post}} GROUP BY id", post=post
    )
    if wide:
        return sig
    return sig.selectExpr(
        "id",
        "array(" + ", ".join(f"h{j}" for j in range(MINHASH_NUM)) + ") AS sig",
    )


SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # hamming <= 3 guaranteed caught (pigeonhole)
SIMHASH_BAND_BITS = 15  # 32768 buckets/band: keeps candidate pairs near-linear


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(id, simhash: bigint) — 60-bit SimHash over the k-shingle token
    set (64-bit-class fingerprints per Manku et al. 2007; 60 keeps
    every band arithmetic in positive signed-long range on both the
    engine and the DuckDB oracle).  Bit b votes +1/-1 per token via
    the deterministic affine hash (tok*(2b+3) + 7b+1) % P >= P/2; bit
    set iff the vote sum is positive.  One groupBy with 60 conditional
    sums — no explode, no engine hash builtins (oracle-reproducible)."""
    post = token_postings(df, id_col, text_col, k)
    # The 60 vote aggregates and the 60-term signature sum are built
    # as SQL strings parsed once JVM-side: composing them through the
    # Python Column API costs >1 s of pure Py4J driver time per query
    # build (one round-trip per operator node).  Arithmetic identical.
    votes = [
        F.expr(
            f"sum(CASE WHEN ((tok * {2 * b + 3} + {7 * b + 1})"
            f" % {MINHASH_P}) >= {MINHASH_P // 2} THEN 1 ELSE -1 END)"
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    g = post.groupBy("id").agg(*votes)
    sig_sql = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return g.select("id", F.expr(f"({sig_sql})").alias("simhash"))


def simhash_band_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    spread: bool | str = "auto",
) -> DataFrame:
    """Near-dup candidate pairs via band matching on SimHash: pairs
    agreeing on >= 1 of 4 fifteen-bit bands, with their exact hamming
    distance.  Any pair within hamming 3 shares a band (pigeonhole),
    so recall is 1.0 for distance <= 3; 32768 buckets per band keeps
    expected bucket occupancy — and hence the quadratic in-bucket
    pair explosion — near-linear in corpus size (8-bit bands tested
    423k candidate pairs out of 5k docs; 15-bit bands cut that to the
    true near-dup neighborhood)."""
    sig = simhash_signatures(df, id_col, text_col, k)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (
                    F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * b)
                    % (1 << SIMHASH_BAND_BITS)
                ).alias("byte"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    buckets = sig.select(
        "id", "simhash", F.explode(band_structs).alias("bb")
    ).select("id", "simhash", "bb.band", "bb.byte")
    grouped = _spread_buckets(
        buckets.groupBy("band", "byte").agg(
            F.sort_array(F.collect_list(F.struct("id", "simhash"))).alias("xs")
        ),
        spread,
        "band",
        "byte",
    )
    pairs = (
        grouped.select(F.explode(bucket_pairs(F.col("xs"))).alias("p"))
        .groupBy(
            F.col("p.x.id").alias("a"),
            F.col("p.y.id").alias("b"),
            F.col("p.x.simhash").alias("sig_a"),
            F.col("p.y.simhash").alias("sig_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("a", "b", "n_bands", hamming.alias("hamming"))


def minhash_band_buckets(
    sig: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bkey) LSH bucket memberships from a (id, sig)
    signature table — the shared banding step for self-join dedup
    (minhash_lsh_pairs) and incremental dedup (incremental_dup_flags).
    """
    # SQL-string band array (one parse; identical values to the
    # former Column construction — concat_ws of bigint casts)
    band_structs = "array(" + ", ".join(
        f"struct({b} AS band, concat_ws(',', "
        + ", ".join(
            f"CAST(element_at(sig, {b * rows_per_band + r + 1}) AS STRING)"
            for r in range(rows_per_band)
        )
        + ") AS bkey)"
        for b in range(bands)
    ) + ")"
    return sig.selectExpr("id", f"explode({band_structs}) AS bb").select(
        "id", "bb.band", "bb.bkey"
    )


def incremental_dup_flags(
    corpus: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Incremental near-dup screen: flag each NEW doc that shares >= 1
    LSH band bucket with the existing corpus.  Columns: (id, is_dup).

    This is the ingestion-time shape of dedup at 100 TB: the corpus
    side collapses to its DISTINCT (band, bkey) bucket set — in
    production that set is a persisted index table appended per
    accepted batch, so each increment scans only the NEW batch,
    semi-joins it against the index, and never rescans the corpus.
    The semi-join keys are tiny fixed-width strings; the new side's
    bucket explosion is bands× its row count, both linear.
    """
    assert bands * rows_per_band <= MINHASH_NUM
    cb = (
        minhash_band_buckets(
            minhash_signatures(corpus, id_col, text_col, k), bands, rows_per_band
        )
        .select("band", "bkey")
        .distinct()
    )
    nb = minhash_band_buckets(
        minhash_signatures(new, id_col, text_col, k), bands, rows_per_band
    )
    dup_ids = (
        nb.join(cb, ["band", "bkey"], "left_semi")
        .select("id")
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        new.select(F.col(id_col).alias("id"))
        .join(dup_ids, "id", "left")
        .select("id", F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    spread: bool | str = "auto",
) -> DataFrame:
    """LSH candidate pairs: docs agreeing on all rows of >= 1 band.

    Columns: a, b, n_bands (number of agreeing bands).  Estimated
    Jaccard can then be refined with jaccard_pairs on candidates only
    — at scale this replaces the full posting self-join.
    """
    assert bands * rows_per_band <= MINHASH_NUM
    sig = minhash_signatures(df, id_col, text_col, k)
    buckets = minhash_band_buckets(sig, bands, rows_per_band)
    grouped = _spread_buckets(
        buckets.groupBy("band", "bkey").agg(
            F.sort_array(F.collect_list("id")).alias("ids")
        ),
        spread,
        "band",
        "bkey",
        member_col="ids",
    )
    return (
        grouped.select(F.explode(bucket_pairs(F.col("ids"))).alias("p"))
        .groupBy(F.col("p.x").alias("a"), F.col("p.y").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_words: int = 10,
) -> DataFrame:
    """C4-style span-level deduplication: segment every document into
    consecutive ``span_words``-word spans, keep exactly ONE occurrence
    of each distinct span corpus-wide (the first by (doc, position)),
    and rebuild each document from its surviving spans.  This is the
    intra-corpus boilerplate remover (C4 drops repeated three-sentence
    spans the same way) — exact dedup works at document grain, span
    dedup kills the repeated footer/license/navigation text INSIDE
    otherwise-distinct documents.

    Returns (id, n_spans, n_kept, new_text); documents whose every
    span was seen earlier come back with ``new_text = ''`` (drop or
    quarantine downstream).

    Physical shape: a narrow segment explode (≈ n_tokens/span rows per
    doc), ONE shuffle on the span text for the global first-occurrence
    rank, one keyed aggregate to reassemble.  A pathologically hot
    span (the same footer in every document) concentrates its
    occurrences in one rank partition — the same skew class as the
    Jaccard posting join; cap occurrences per span with a count
    pre-filter (df-pruning) if a corpus degenerates that far.
    """
    from pyspark.sql import Window

    t = F.col(text_col)
    w = words(t)
    n_spans = F.ceil(F.size(w) / F.lit(span_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.struct(
            i.alias("idx"),
            F.array_join(
                F.slice(w, i * span_words + 1, span_words), " "
            ).alias("seg"),
        ),
    )
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode(segs).alias("s")
    ).select("id", F.col("s.idx").alias("idx"), F.col("s.seg").alias("seg"))
    w_first = Window.partitionBy("seg").orderBy("id", "idx")
    ranked = exploded.withColumn(
        "_keep", F.row_number().over(w_first) == 1
    )
    return ranked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"),
                            F.struct(F.col("idx"), F.col("seg")),
                        )
                    )
                ),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("new_text"),
    )


def repeated_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_words: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal repeated-substring report, the word-level analogue of
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", public literature):
    a word position is *duplicated* when some corpus-wide repeated
    ``gram_words``-gram covers it; maximal runs of covered positions
    are merged into spans (gaps-and-islands, overlap = gram width).

    Per document: (id, n_words, n_dup_grams, n_spans, dup_words,
    dup_frac) where dup_words counts words covered by at least one
    repeated gram and dup_frac = dup_words / n_words rounded to 6
    decimals.  Docs shorter than ``gram_words`` report zeros (no gram
    can witness duplication).

    Contrast with span_dedup (C4 recipe, fixed non-overlapping
    segments): overlapping grams detect duplicated text at ANY
    alignment, the property the suffix-array method buys — a footer
    shifted by one word still matches here but misses every fixed
    segment boundary there.

    Scale shape: explode to overlapping grams (n_words rows/doc —
    same order as the shingle postings the Jaccard path already
    pays), ONE aggregate on the gram hash for corpus counts, join the
    repeated-gram set back (Catalyst picks shuffle-hash/broadcast by
    stats — the repeated set is typically tiny), then a per-doc
    window for island merge.  The gram join key is a 64-bit xxhash,
    not the gram text: shuffle width is 16 B/row instead of the
    ~60 B gram string.  Hot grams (the same footer everywhere)
    concentrate a key — identical skew class and mitigation
    (count cap) as jaccard_pairs df-pruning.
    """
    from pyspark.sql import Window

    k = int(gram_words)
    if k < 2:
        raise ValueError(f"gram_words must be >= 2, got {gram_words}")
    w = words(F.col(text_col))
    n = F.size(w)
    idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    grams = df.select(
        F.col(id_col).alias("id"),
        n.alias("n_words"),
        F.explode_outer(idx).alias("p"),
        w.alias("_w"),
    ).select(
        "id",
        "n_words",
        "p",
        F.when(
            F.col("p").isNotNull(),
            F.xxhash64(
                F.array_join(F.slice("_w", F.col("p") + 1, k), " ")
            ),
        ).alias("gh"),
    )
    rep = (
        grams.where(F.col("gh").isNotNull())
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("gh")
    )
    dup = grams.join(rep, "gh", "left_semi").select("id", "p")
    win = Window.partitionBy("id").orderBy("p")
    islands = (
        dup.withColumn(
            "_new",
            F.when(
                F.col("p") - F.lag("p").over(win) <= k - 1, 0
            ).otherwise(1),
        )
        .withColumn("_isl", F.sum("_new").over(win))
        .groupBy("id", "_isl")
        .agg(
            F.count(F.lit(1)).alias("_grams"),
            (F.max("p") - F.min("p") + k).alias("_span_words"),
        )
        .groupBy("id")
        .agg(
            F.sum("_grams").cast("long").alias("n_dup_grams"),
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("_span_words").cast("long").alias("dup_words"),
        )
    )
    base = df.select(
        F.col(id_col).alias("id"), n.alias("n_words").cast("long")
    )
    return (
        base.join(islands, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_words",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("dup_words", F.lit(0)).alias("dup_words"),
            (
                F.round(
                    F.coalesce("dup_words", F.lit(0))
                    / F.greatest("n_words", F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("dup_frac"),
        )
    )


def normalized_exact_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact dedup on the CANONICAL text form — lowercase, strip
    non-alphanumerics to spaces, collapse runs of whitespace, trim —
    the normalization step the public curation recipes (C4, Dolma)
    apply before hashing, so copies differing only in case,
    punctuation, or spacing collapse into one group where
    ``exact_dedup_groups`` (byte-exact md5) sees distinct documents.

    Returns one row per input: (id_col, norm_hash, group_size,
    is_canonical) — canonical = minimum id of the group; norm_hash
    is the md5 hex of the canonical form (joinable across corpora).

    Scale shape: the normalization is scan-side column math; then ONE
    shuffle on the 32-char hash with min/count as WINDOW aggregates
    over the hash partition — the round-8 rewrite of the original
    groupBy + join-back, which paid a second exchange and a sort-
    merge join against the group table for the identical values.
    Skew only if one canonical form dominates the corpus, which is
    precisely what the report is for.
    """
    from pyspark.sql import Window

    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.col(text_col)), "[^a-z0-9 ]", " "
            ),
            " +",
            " ",
        )
    )
    hashed = df.select(
        F.col(id_col).alias("id"), F.md5(norm).alias("norm_hash")
    )
    w = Window.partitionBy("norm_hash")
    return hashed.select(
        F.col("id").alias(id_col),
        "norm_hash",
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
        (F.col("id") == F.min("id").over(w)).alias("is_canonical"),
    )


def simhash_udf(k: int = 3):
    """Arrow-batched per-row SimHash: pandas UDF ``text -> bigint``
    producing the EXACT integer of ``simhash_signatures`` (same
    distinct shingle tokens, same affine votes, same bit threshold)
    without the groupBy — the form a streaming pipeline needs, where
    an aggregation would force complete-mode.  Value-identity with
    the native path is pinned by ``test_simhash_udf_matches_native``,
    INCLUDING the no-shingle case: a doc with fewer than k words has
    no postings, so the native groupBy emits no row — this UDF
    returns NULL for it (not 0, which would claim phantom (band, 0)
    buckets downstream).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    from ..functions.textfn import py_shingle_tokens

    p = MINHASH_P
    half = p // 2

    def _sig(texts):
        import numpy as np

        # vote math vectorized: (tokens x 60) outer affine stays
        # < 1e9 * 123 + 414 < 2^63, so int64 semantics are exact
        av = np.arange(SIMHASH_BITS, dtype=np.int64) * 2 + 3
        cv = np.arange(SIMHASH_BITS, dtype=np.int64) * 7 + 1
        bits = np.int64(1) << np.arange(SIMHASH_BITS, dtype=np.int64)
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = py_shingle_tokens(t, k)
            if not toks:
                out.append(None)  # native groupBy emits no row here
                continue
            ta = np.fromiter(toks, dtype=np.int64, count=len(toks))
            votes = ((ta[:, None] * av[None, :] + cv[None, :]) % p >= half)
            v = 2 * votes.sum(axis=0, dtype=np.int64) - len(ta)
            out.append(int(bits[v > 0].sum()))
        return pd.Series(out, dtype=object)

    _sig.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_sig, LongType())
