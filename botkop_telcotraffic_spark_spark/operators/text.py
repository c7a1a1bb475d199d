"""Text analysis operators (SURVEY.md §2.12): quality scoring,
language ID, token stats, fingerprinting.

All pure column expressions (codegen'd, partition-parallel, zero
Python in the hot path).  Formulas are deliberately closed-form so
the DuckDB oracle reproduces them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textfn import (
    char_ngrams,
    rolling_fingerprint,
    words,
)

# Marker stopwords per language for the n-gram/stopword heuristic
# language-ID.  (Synthetic corpus is English-ish tech words; the
# point is a deterministic, oracle-checkable classifier.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "es", "y"],
}
STOPWORDS = ["a", "the", "of", "and", "to", "in", "is", "it"]


def text_features(
    df: DataFrame, id_col: str, text_col: str, append: bool = False
) -> DataFrame:
    """Per-doc features: n_chars, n_tokens, n_distinct_tokens,
    avg_token_len, type_token_ratio, stopword_ratio, quality_score.

    avg_token_len avoids array math: (chars - spaces) / tokens for a
    single-space-separated doc.

    ``append=True`` keeps every input column and appends the feature
    columns — a narrow projection, so composers never need to join
    the features back to the source (a pure per-row derivation joined
    on its own key is a shuffle Catalyst can't elide).
    """
    # Built as selectExpr SQL strings (r13): the identical expression
    # trees the Column builders produced (same ops, same D-suffixed
    # double literals, int/int `/` is fractional in both routes), one
    # JVM parse instead of ~80 Py4J round-trips per build.
    t = f"`{text_col}`"
    w = f"split({t}, ' ')"
    n_tokens = f"size({w})"
    n_chars = f"length({t})"
    n_distinct = f"size(array_distinct({w}))"
    avg_len = f"(({n_chars} - ({n_tokens} - 1)) / {n_tokens})"
    ttr = f"({n_distinct} / {n_tokens})"
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    stop_ratio = f"(size(filter({w}, x -> x IN ({stop_list}))) / {n_tokens})"
    # Quality: reward mid-length docs and lexical diversity, penalize
    # stopword stuffing.  Clamped to [0, 1].
    quality = (
        f"least(1.0D, greatest(0.0D, "
        f"0.4D * least(1.0D, {n_tokens} / 50.0D)"
        f" + 0.4D * {ttr}"
        f" + 0.2D * (1.0D - {stop_ratio})))"
    )
    cols = [
        f"{n_chars} AS n_chars_calc",
        f"{n_tokens} AS n_tokens",
        f"{n_distinct} AS n_distinct_tokens",
        f"round({avg_len}, 6) AS avg_token_len",
        f"round({ttr}, 6) AS type_token_ratio",
        f"round({stop_ratio}, 6) AS stopword_ratio",
        f"round({quality}, 6) AS quality_score",
    ]
    if append:
        return df.selectExpr("*", *cols)
    return df.selectExpr(f"`{id_col}`", *cols)


def lang_id(
    df: DataFrame, id_col: str, text_col: str, append: bool = False
) -> DataFrame:
    """Stopword-marker language ID: argmax over per-language marker
    hit counts; 'und' (undetermined) when all scores are zero.  Ties
    break by the fixed language order en > de > fr > es.

    ``append=True`` keeps every input column (see text_features)."""
    # selectExpr SQL strings (r13): same argmax CASE chain and
    # greatest() accumulation the Column builders produced (ties
    # still break by the fixed language order), one JVM parse
    # instead of ~60 Py4J round-trips + 4 filter-lambda registrations.
    w = f"split(`{text_col}`, ' ')"
    best = None
    best_lang = "'und'"
    for lang, mk in LANG_MARKERS.items():  # insertion order = priority
        marker_list = ", ".join(f"'{m}'" for m in mk)
        s = f"size(filter({w}, x -> x IN ({marker_list})))"
        if best is None:
            best = s
            best_lang = f"(CASE WHEN {s} > 0 THEN '{lang}' ELSE 'und' END)"
        else:
            best_lang = (
                f"(CASE WHEN {s} > {best} THEN '{lang}' ELSE {best_lang} END)"
            )
            best = f"greatest({best}, {s})"
    cols = [f"{best_lang} AS pred_lang", f"{best} AS marker_hits"]
    if append:
        return df.selectExpr("*", *cols)
    return df.selectExpr(f"`{id_col}`", *cols)


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword estimate
    (alnum runs + non-alnum non-space chars counted separately)."""
    t = F.col(text_col)
    ws_tokens = F.size(words(t))
    alnum_runs = F.size(F.regexp_extract_all(t, F.lit("[a-zA-Z0-9]+"), 0))
    other_chars = F.length(F.regexp_replace(t, "[a-zA-Z0-9 ]", ""))
    # ~4 chars/token heuristic on top of run segmentation
    bpe_est = alnum_runs + other_chars + F.floor(F.length(t) / F.lit(20))
    return df.select(
        F.col(id_col),
        ws_tokens.alias("ws_tokens"),
        alnum_runs.alias("alnum_runs"),
        other_chars.alias("other_chars"),
        bpe_est.alias("bpe_token_est"),
    )


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic rolling-hash fingerprint per doc (dedup key /
    shard-stable content id)."""
    return df.select(
        F.col(id_col), rolling_fingerprint(F.col(text_col)).alias("fingerprint")
    )


def repetition_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals per doc: the fraction of
    tokens taken by the single most frequent token, and the fraction
    of duplicate word 2-grams.

    Heavily repetitive documents (boilerplate, generated spam) score
    high on both; training-data pipelines filter on them alongside
    the [[text_features]] quality score.

    Physical shape: two explode→groupBy passes (token counts, then
    per-doc rollup) — both shuffles are keyed on doc id + token, so
    the operator scales with corpus size, never materializing a
    per-doc vocabulary in one task.  Integer counts make every ratio
    bit-exact across engines before the final round.
    """
    from ..functions.textfn import word_shingles

    toks = df.select(F.col(id_col).alias("id"), F.explode(words(F.col(text_col))).alias("tok"))
    per_tok = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("c"))
    tok_roll = per_tok.groupBy("id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("_top_cnt"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
    )
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), 2)).alias("g"),
    )
    gram_roll = (
        grams.groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(F.sum("c").alias("_n_grams"), F.count(F.lit(1)).alias("_n_distinct_grams"))
    )
    return (
        tok_roll.join(gram_roll, "id", "left_outer")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.round(F.col("_top_cnt") / F.col("n_tokens"), 6).alias("top_token_frac"),
            F.round(
                1 - F.col("_n_distinct_grams") / F.col("_n_grams"), 6
            ).alias("dup_2gram_frac"),
        )
    )


# C4-style wordlist gate: docs whose blocklisted-word fraction
# exceeds the cap (or that are too short) are dropped from the
# training corpus.  The synthetic-corpus blocklist marks the noise
# words the generator plants.
BLOCKLIST = ["slow", "dup", "big"]


def blocklist_gate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    blocklist: list[str] | None = None,
    max_frac: float = 0.15,
    min_words: int = 20,
) -> DataFrame:
    """Per-doc blocklist stats + keep decision (C4-style filter rule:
    word-count floor AND capped bad-word fraction).

    Returns (id, n_words, n_flagged, flagged_frac, keep).  Pure
    column math over the word array — scan-side, no shuffle, no
    Python; the blocklist is a literal baked into the plan (for
    large/secret lists broadcast a set and use a hashed semi-join per
    word instead).
    """
    bl = blocklist if blocklist is not None else BLOCKLIST
    w = words(F.col(text_col))
    n_words = F.size(w)
    n_flagged = F.size(F.filter(w, lambda x: x.isin(*bl)))
    frac = n_flagged / n_words
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_flagged.alias("n_flagged"),
        F.round(frac, 6).alias("flagged_frac"),
        ((n_words >= min_words) & (frac <= max_frac)).alias("keep"),
    )


# PII scrubbing (training-data hygiene).  Patterns are RE2-compatible
# (no lookaround, no backreferences) so Java regex (Spark) and RE2
# (DuckDB oracle) produce identical matches; alternation is avoided
# because Java is leftmost-FIRST and RE2 leftmost-LONGEST.  Order is
# load-bearing: emails first (they contain digit runs a phone pattern
# could bite), then IPs (dotted quads the phone pattern cannot match),
# then phones.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}(\.\d{1,3}){3}\b", "<IP>"),
    # digits with at most 2 of " ()-" between consecutive digits, >= 7
    # digits total: spans "+1 (555) 000-1111" but no longer swallows
    # arbitrarily long separator runs.  Known limitation (heuristic):
    # two digit runs separated by a SINGLE space ("ids 1234567 7654321")
    # still collapse into one match — fixing that needs lookaround,
    # which RE2 (the oracle engine) lacks.
    ("phone", r"\+?\d([ ()-]{0,2}\d){6,}", "<PHONE>"),
]


def pii_redact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact emails / IPv4s / phone-like digit runs, with per-doc
    match counts: (id, n_email, n_ip, n_phone, redacted).

    Each pattern's count is taken on the PROGRESSIVELY-REDACTED text
    (i.e. after the preceding patterns were replaced), so every count
    equals the number of its placeholder occurrences in ``redacted``
    — n_phone can never bite digit runs inside an email/IP that the
    output no longer shows.  The oracle mirrors the same sequencing.
    Pure scan-side column math (regexp_count/regexp_replace,
    codegen'd) — no shuffle, no Python, trivially partition-parallel
    at 100 TB.
    """
    red: Column = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(F.regexp_count(red, F.lit(pat)).cast("long").alias(f"n_{name}"))
        red = F.regexp_replace(red, pat, repl)
    return df.select(F.col(id_col), *counts, red.alias("redacted"))


def ngram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    model_df: DataFrame | None = None,
) -> DataFrame:
    """Character n-gram language-model scoring — the classic
    perplexity-proxy quality signal for corpus filtering (docs whose
    character statistics diverge from the corpus read as boilerplate,
    encoding damage, or spam).

    Model: conditional ``P(c_n | c_1..c_{n-1}) = count(ngram) /
    count(prefix)`` with the prefix counts derived by re-aggregating
    the n-gram counts (so probabilities normalize exactly and
    scoring the training corpus itself never sees an OOV).  Pass
    ``model_df`` (columns ``g``, ``logp``) to score against a model
    trained elsewhere (e.g. the clean reference corpus).

    Physical shape at 100 TB: n-gram expansion is a NARROW explode
    (no shuffle); model building is one map-side-combined aggregate
    whose key space is bounded by alphabet^n, not corpus size; the
    model joins back as a BROADCAST (alphabet^3 of printable ASCII is
    ~100k rows); per-doc re-aggregation partial-combines map-side, so
    the only corpus-sized shuffle carries one row per document, not
    one per character.  Everything is Catalyst column math — no
    Python in the hot path.
    """
    t = F.lower(F.col(text_col))
    ex = df.select(
        F.col(id_col), F.explode(char_ngrams(t, n)).alias("g")
    )

    if model_df is None:
        m3 = ex.groupBy("g").agg(F.count(F.lit(1)).alias("n3"))
        m2 = (
            m3.groupBy(F.expr("substr(g, 1, {})".format(n - 1)).alias("p"))
            .agg(F.sum("n3").alias("n2"))
        )
        model_df = (
            m3.join(
                F.broadcast(m2),
                F.expr("substr(g, 1, {})".format(n - 1)) == F.col("p"),
            )
            .select(
                "g",
                F.log(F.col("n3") / F.col("n2").cast("double")).alias("logp"),
            )
        )

    scored = (
        ex.join(F.broadcast(model_df), "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.avg("logp"), 6).alias("avg_logprob"),
        )
    )
    return scored


# Fixed linear quality model — stands in for the fastText-style
# quality classifier LLM pipelines run after the rule-based gates
# (weights would come from a trained model; the ENGINE contract is
# the in-plan scoring, which is identical whatever the weights are).
# Scored on the ROUNDED feature columns text_features emits, so the
# oracle reproduces the logit bit-for-bit from the same features.
#
# Weights are deliberately INTEGER-valued: the features are 6-decimal
# roundings, so integer weights keep the logit an exact 6-decimal
# value and round(z, 6) never sits on a digit-7 half — a fractional
# weight like 2.5 puts EVERY logit exactly on x.xxxxxx5, where
# Spark's BigDecimal rounding and a multiply-by-1e6 double rounding
# (DuckDB) legitimately disagree by one ulp of output.
QUALITY_LOGIT_BIAS = -1.0
QUALITY_LOGIT_WEIGHTS = {
    "type_token_ratio": 3.0,
    "stopword_ratio": -2.0,
    "length_sat": 1.0,  # min(1, n_tokens/50) — the saturating length term
}


def quality_logistic_gate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Model-based quality filter: logistic score over the engine's
    text features, plus the keep decision — the classifier-stage
    complement to the rule-based gates (blocklist_gate, repetition
    thresholds).  Pure scan-side column math: features, logit and
    sigmoid are one narrow projection; nothing shuffles.

    Returns (id, n_tokens, type_token_ratio, stopword_ratio,
    quality_logit, quality_prob, keep).  ``keep`` compares the
    6-rounded probability against ``threshold`` so the decision is
    engine-stable (exp differs across libms in the last ulp; the
    rounded probability does not).
    """
    feats = text_features(df, id_col, text_col)
    length_sat = F.least(F.lit(1.0), F.col("n_tokens") / F.lit(50.0))
    z = (
        F.lit(QUALITY_LOGIT_BIAS)
        + F.lit(QUALITY_LOGIT_WEIGHTS["type_token_ratio"])
        * F.col("type_token_ratio")
        + F.lit(QUALITY_LOGIT_WEIGHTS["stopword_ratio"])
        * F.col("stopword_ratio")
        + F.lit(QUALITY_LOGIT_WEIGHTS["length_sat"]) * length_sat
    )
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return feats.select(
        F.col(id_col),
        "n_tokens",
        "type_token_ratio",
        "stopword_ratio",
        F.round(z, 6).alias("quality_logit"),
        prob.alias("quality_prob"),
        (prob >= F.lit(threshold)).alias("keep"),
    )


# Gopher rule-pack (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Appendix A1.1 —
# public literature).  Thresholds are the published ones; the
# required-stopword list is the paper's.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000


def gopher_rules(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc Gopher quality-filter rules as 0/1 flags plus the
    conjunction — the published rule-pack complement to the engine's
    learned/heuristic gates (text_features, quality_logistic_gate):

    * word count in [50, 100 000]
    * mean word length in [3, 10]
    * symbol-to-word ratio ('#', '…', '...') <= 0.1
    * <= 90% of lines start with a bullet; <= 30% end with an ellipsis
    * >= 80% of words contain an alphabetic character
    * >= 2 distinct required stopwords present

    Returns (id_col, n_words, mean_word_len, symbol_ratio,
    bullet_frac, ellipsis_frac, alpha_frac, stop_hits, r_*cols,
    pass_gopher).  Flags are INT 0/1 for cross-engine hash stability.

    Pure scan-side column math — one projection, no shuffle, no UDF;
    the filter composes with any downstream gate via pass_gopher.
    """
    t = F.col(text_col)
    w = words(t)
    n_words = F.size(w)
    n_chars = F.length(t)
    mean_len = (n_chars - (n_words - 1)) / n_words
    occurrences = (
        (n_chars - F.length(F.replace(t, F.lit("#"), F.lit(""))))
        + (n_chars - F.length(F.replace(t, F.lit("…"), F.lit(""))))
        + (n_chars - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    )
    symbol_ratio = occurrences / n_words
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    bullet = F.size(
        F.filter(
            lines,
            lambda ln: ln.startswith("- ")
            | ln.startswith("* ")
            | ln.startswith("• "),
        )
    )
    ellipsis = F.size(
        F.filter(
            lines, lambda ln: ln.endswith("...") | ln.endswith("…")
        )
    )
    bullet_frac = bullet / n_lines
    ellipsis_frac = ellipsis / n_lines
    alpha = F.size(F.filter(w, lambda x: x.rlike("[a-zA-Z]")))
    alpha_frac = alpha / n_words
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(w),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    r_words = flag(
        (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    )
    r_mean_len = flag((mean_len >= 3) & (mean_len <= 10))
    r_symbol = flag(symbol_ratio <= 0.1)
    r_bullet = flag((bullet_frac <= 0.9) & (ellipsis_frac <= 0.3))
    r_alpha = flag(alpha_frac >= 0.8)
    r_stop = flag(stop_hits >= 2)
    all_pass = (
        r_words * r_mean_len * r_symbol * r_bullet * r_alpha * r_stop
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_frac, 6).alias("bullet_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_frac"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        r_words.alias("r_words"),
        r_mean_len.alias("r_mean_len"),
        r_symbol.alias("r_symbol"),
        r_bullet.alias("r_bullet"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stop"),
        all_pass.alias("pass_gopher"),
    )


def zipf_slope(
    df: DataFrame,
    text_col: str,
    top_v: int = 1000,
    round_to: int = 6,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(freq) on ln(rank) for the ``top_v`` most frequent terms — the
    corpus-health scalar (natural language tracks slope ≈ -1;
    boilerplate-heavy or synthetic corpora drift off it, making this
    a cheap whole-corpus quality monitor next to the per-doc gates).

    Returns ONE row: (n_terms, slope, intercept) rounded.

    Physical shape: one postings aggregate (vocabulary-sized — bounded
    regardless of corpus rows), a top-V cut via TakeOrderedAndProject
    (distributed; never a global sort of the vocabulary), then a rank
    window + OLS closed form over only top_v rows.  The single-
    partition window is bounded at top_v — the documented exception
    pattern (same as BM25's rank over its top-n cut).
    """
    freq = (
        df.select(F.explode(words(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    cut = freq.orderBy(F.col("freq").desc(), F.col("term")).limit(top_v)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("freq").desc(), F.col("term"))
    xy = cut.withColumn("rnk", F.row_number().over(w)).select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sxx = F.sum(F.col("x") * F.col("y")), F.sum(F.col("x") * F.col("x"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return xy.agg(
        n.cast("long").alias("n_terms"),
        F.round(slope, round_to).alias("slope"),
        F.round(intercept, round_to).alias("intercept"),
    )


def vocab_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_n: int = 100,
) -> DataFrame:
    """Vocabulary builder with corpus-coverage accounting: rank every
    space token by frequency and report, for the top ``top_n`` ranks,
    the token, its count, and the CUMULATIVE fraction of all token
    occurrences covered through that rank — the table that answers
    "how big must the vocab be for 95% coverage?" before a tokenizer
    train run.

    Rank ties break lexicographically (count desc, token asc) so the
    table is deterministic across engines.

    Returns (rank, token, cnt, cum_frac) — ``top_n`` rows.

    Scale shape: token counting is one keyed aggregate (map-side
    combined — the token space, not the corpus, reaches the shuffle).
    The ranking window then runs over the AGGREGATED vocab relation
    (vocab-sized, millions of rows at worst, not corpus-sized); its
    single-partition sort is the standard price of a global rank and
    is bounded by vocab size — document-scale data never sees it.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
        ).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    tot = Window.partitionBy()
    ranked = counts.select(
        F.row_number().over(w).alias("rank"),
        "token",
        "cnt",
        (
            F.round(
                F.sum("cnt").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                / F.sum("cnt").over(
                    tot.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("cum_frac"),
    )
    return ranked.where(F.col("rank") <= top_n)


def heaps_fit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(N) ≈ k·N^β, estimated
    as the OLS line of ln(cum_vocab) on ln(cum_tokens) sampled at
    ``buckets`` checkpoints along the corpus — the companion
    corpus-health scalar to :func:`zipf_slope` (natural language sits
    around β ≈ 0.4-0.6; β → 1 means the "vocabulary" never saturates
    — OCR noise, random ids, boilerplate hashes; β ≈ 0 means a
    closed vocabulary — templated/synthetic text).

    Scale shape — the reason for the checkpoints: the exact growth
    curve needs a GLOBAL cumulative count over doc order (a full
    prefix sum).  Instead docs are bucketed by equi-width id ranges
    (one 1-row min/max broadcast); per bucket, ONE aggregate
    computes token mass and newly-first-seen term count (first
    occurrence = min(doc_id) per term — a vocabulary-sized
    aggregate, not a scan ordering).  The cumulative sums then run
    over ≤ ``buckets`` rows — a bounded single-partition window, the
    documented exception class.  The fitted curve is the TRUE curve
    sampled at bucket boundaries, not an approximation of it.

    Returns ONE row: (n_points, beta, k, r2), rounded.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(words(F.col(text_col))).alias("term"),
    )
    rng = toks.agg(
        F.min("_doc").alias("_lo"), F.max("_doc").alias("_hi")
    )
    span = F.when(
        F.col("_hi") > F.col("_lo"), (F.col("_hi") - F.col("_lo"))
    ).otherwise(F.lit(1)).cast("double")
    bucket = F.least(
        F.lit(buckets - 1),
        F.floor(
            (F.col("_doc") - F.col("_lo")) / (span / buckets)
        ).cast("int"),
    )
    tok_b = (
        toks.crossJoin(F.broadcast(rng))
        .select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    first = toks.groupBy("term").agg(F.min("_doc").alias("_doc"))
    new_b = (
        first.crossJoin(F.broadcast(rng))
        .select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pts = (
        tok_b.join(new_b, "b", "left_outer")
        .select(
            "b",
            F.sum("n_tok").over(w).alias("cum_tok"),
            F.sum(F.coalesce("n_new", F.lit(0))).over(w).alias("cum_v"),
        )
        .where((F.col("cum_tok") > 0) & (F.col("cum_v") > 0))
        .select(
            F.log(F.col("cum_tok").cast("double")).alias("x"),
            F.log(F.col("cum_v").cast("double")).alias("y"),
        )
    )
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    lnk = (sy - beta * sx) / n
    # r2 is undefined for a constant vocabulary curve; n·syy - sy² of
    # equal terms is 0 or a rounding residue depending on the partial
    # sum order, so test the y range instead of that denominator
    r2 = F.when(
        F.max("y") > F.min("y"),
        ((n * sxy - sx * sy) * (n * sxy - sx * sy))
        / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
    )
    return pts.agg(
        n.cast("long").alias("n_points"),
        (F.round(beta, round_to) + F.lit(0.0)).alias("beta"),
        (F.round(F.exp(lnk), round_to) + F.lit(0.0)).alias("k"),
        (F.round(r2, round_to) + F.lit(0.0)).alias("r2"),
    )


def flesch_readability(
    df: DataFrame,
    id_col: str,
    text_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Flesch reading-ease score per document (Flesch 1948: 206.835
    − 1.015·words/sentences − 84.6·syllables/word) — the classic
    document-difficulty feature for corpus curation (alongside the
    Gopher rule-pack and the logistic quality gate): very low scores
    flag legalese/boilerplate, implausibly high ones flag degenerate
    text.

    Deterministic dual-engine counting rules (documented contract,
    NOT a linguistic syllabifier — the score is a curation feature,
    and both engines must agree bit-for-bit):

    - words      = maximal ``[a-z0-9]+`` runs of the lowercased text
    - sentences  = maximal ``[.!?]+`` runs, floored at 1
    - syllables  = maximal ``[aeiouy]+`` vowel-group runs (the
      standard first-order syllable proxy; silent-e and diphthong
      exceptions deliberately omitted)

    Documents with zero words answer NULL honestly.

    Physical shape: pure scan-side regexp column math — zero
    shuffles, zero UDFs, whole-stage codegen throughout.

    Returns (id, n_words, n_sentences, n_syllables, flesch).
    """
    low = F.lower(F.col(text_col))
    words = F.size(F.regexp_extract_all(low, F.lit("[a-z0-9]+"), 0))
    sents = F.greatest(
        F.size(F.regexp_extract_all(low, F.lit("[.!?]+"), 0)), F.lit(1)
    )
    syls = F.size(F.regexp_extract_all(low, F.lit("[aeiouy]+"), 0))
    flesch = F.when(
        words > 0,
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
        - F.lit(84.6) * (syls.cast("double") / words.cast("double")),
    )
    return df.select(
        F.col(id_col),
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        syls.cast("long").alias("n_syllables"),
        (F.round(flesch, round_to) + F.lit(0.0)).alias("flesch"),
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Per-document n-gram NOVELTY score: the fraction of the doc's
    distinct k-shingles whose FIRST appearance in the corpus (lowest
    id owns a shingle) is this document — the memorization/
    boilerplate audit a pretraining curation pass runs to find docs
    that add nothing new (novelty ~ 0: every shingle already seen)
    versus fresh material (novelty ~ 1).  Deterministic given the id
    order; the id is the arrival proxy, the standard convention for
    "seen before".

    Output: (id_col, n_shingles, n_novel, novelty).

    Scale shape: the postings relation (dedup.token_postings — the
    same rolling-fingerprint shingle ids the dedup family shuffles)
    is aggregated once to (tok, min_id) — map-side combined min —
    and joined back to the postings on the shingle key; both sides
    shuffle on `tok`, nothing is ever corpus² and no global dictionary
    or sort exists.  At 100 TB this is two shuffles of the postings
    table, the same budget as one near-dup candidate pass.
    """
    from botkop_telcotraffic_spark_spark.operators.dedup import (
        token_postings,
    )

    post = token_postings(df, id_col, text_col, k)
    firsts = post.groupBy("tok").agg(F.min("id").alias("_first"))
    j = post.join(firsts, "tok")
    return (
        j.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("id") == F.col("_first"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_novel",
            (
                F.round(
                    F.col("n_novel").cast("double")
                    / F.col("n_shingles").cast("double"),
                    round_to,
                )
                + F.lit(0.0)
            ).alias("novelty"),
        )
    )


def quality_threshold_sweep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    thresholds: tuple[float, ...] = (
        0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9,
    ),
    round_to: int = 6,
) -> DataFrame:
    """Filter operating-curve: for each candidate quality threshold,
    how much of the corpus survives — the table a curation team
    reads to PICK the cutoff before a 100 TB filter run (the
    keep-rate / quality trade-off sweep every pretraining pipeline
    does; cf. Gopher's ablation of rule thresholds, Rae et al. 2021,
    public literature).

    Output: one row per threshold (threshold, kept_docs, kept_frac,
    kept_tokens, token_frac, mean_quality_kept) using the engine's
    standard text_features quality score.  mean_quality_kept is NULL
    when nothing survives.

    Scale shape: per-doc features once (scan-once, no shuffle), then
    ONE global conditional aggregate with 3 x |thresholds| map-side
    sums — the sweep does NOT multiply rows by thresholds (no
    cross join against the corpus); the 1-row wide aggregate is
    unpivoted driver-free with ``stack``.
    """
    feats = text_features(df, id_col, text_col)
    q, nt = F.col("quality_score"), F.col("n_tokens")
    aggs = [
        F.count(F.lit(1)).cast("double").alias("_total"),
        F.sum(nt).cast("double").alias("_total_tokens"),
    ]
    for i, tau in enumerate(thresholds):
        keep = q >= F.lit(float(tau))
        aggs.append(
            F.sum(F.when(keep, 1).otherwise(0)).cast("double").alias(f"_k{i}")
        )
        aggs.append(
            F.sum(F.when(keep, nt).otherwise(0)).cast("double").alias(f"_t{i}")
        )
        aggs.append(F.sum(F.when(keep, q).otherwise(0.0)).alias(f"_s{i}"))
    g = feats.agg(*aggs)
    stack = ", ".join(
        f"CAST({float(tau)!r} AS DOUBLE), _k{i}, _t{i}, _s{i}"
        for i, tau in enumerate(thresholds)
    )
    rows = g.select(
        "_total",
        "_total_tokens",
        F.expr(
            f"stack({len(thresholds)}, {stack}) AS (threshold, _k, _t, _s)"
        ),
    )
    return rows.select(
        "threshold",
        F.col("_k").cast("long").alias("kept_docs"),
        (F.round(F.col("_k") / F.col("_total"), round_to) + F.lit(0.0)).alias(
            "kept_frac"
        ),
        F.col("_t").cast("long").alias("kept_tokens"),
        (
            F.round(F.col("_t") / F.col("_total_tokens"), round_to)
            + F.lit(0.0)
        ).alias("token_frac"),
        F.when(
            F.col("_k") > 0,
            F.round(F.col("_s") / F.col("_k"), round_to) + F.lit(0.0),
        ).alias("mean_quality_kept"),
    )
