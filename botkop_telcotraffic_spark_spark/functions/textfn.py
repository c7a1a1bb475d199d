"""Text-analysis primitives as pure JVM column expressions.

Extension surface (SURVEY.md §2.12): tokenization, shingling,
stopword stats, and a deterministic polynomial rolling-hash document
fingerprint.  Everything is Catalyst built-ins / higher-order
functions — hash arithmetic is plain 64-bit integer math so the
DuckDB oracle can reproduce it bit-exactly (no engine-specific hash
functions).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic polynomial rolling hash params (shared with the
# DuckDB oracle SQL — keep in sync with __spark_entry__.oracle_sql).
FP_BASE = 131
FP_MOD = 1_000_000_007


def words(text: Column) -> Column:
    """Whitespace tokenization (documents fixture is single-space)."""
    return F.split(text, " ")


def word_shingles(text: Column, k: int) -> Column:
    """Array of k-word shingles (space-joined), order-preserving.

    ``slice`` is 1-based; a doc with fewer than k words yields an
    empty array.
    """
    w = words(text)
    n = F.size(w)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(w, i, k), " "))


def word_fingerprints(text: Column) -> Column:
    """Array of per-word rolling-hash fingerprints (one char-fold per
    word; cheaper than hashing every k-shingle string separately)."""
    return F.transform(words(text), rolling_fingerprint)


def word_fingerprints_sql(text_expr: str) -> str:
    """SQL-string twin of ``word_fingerprints`` for ``selectExpr``
    call sites: identical integers, one JVM parse instead of ~30
    Py4J Column constructions + first-shape lambda resolution
    (measured ~2.7x cheaper per plan build, r13 — the build cost is
    paid on EVERY bench/driver run and once per micro-batch on the
    streaming dedup path)."""
    return (
        f"transform(split({text_expr}, ' '), w -> "
        "aggregate(transform(sequence(1, length(w)), "
        "i -> CAST(ascii(substring(w, i, 1)) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD}))"
    )


def shingle_tokens_sql(wf_expr: str, k: int) -> str:
    """SQL-string twin of ``shingle_tokens_from_fps`` (same fold
    order, same guard, same types — values bit-identical).  ``wf_expr``
    must reference an already-projected array column, exactly like
    the Column form (the CollapseProject O(n^2) hazard)."""
    acc = f"element_at({wf_expr}, i)"
    for j in range(1, k):
        acc = (
            f"(({acc}) * {FP_BASE} + element_at({wf_expr}, i + {j}))"
            f" % {FP_MOD}"
        )
    return (
        f"transform(CASE WHEN size({wf_expr}) >= {k} "
        f"THEN sequence(1, size({wf_expr}) - {k - 1}) "
        f"ELSE CAST(array() AS ARRAY<INT>) END, i -> {acc})"
    )


def shingle_tokens_from_fps(wf: Column, k: int) -> Column:
    """Integer tokens of the k-word shingles from a *materialized*
    word-fingerprint array column: each shingle costs k multiply-adds.
    Stays < 2^63 (acc < FP_MOD ~1e9, *131 + 1e9 ~ 1.3e11).

    IMPORTANT: ``wf`` must be a plain column reference to an already-
    projected array (`df.select(word_fingerprints(text).alias("wf"))`
    first).  Passing the ``word_fingerprints(...)`` expression inline
    re-evaluates the whole array for every ``element_at`` — O(n^2)
    per row (no common-subexpression elimination inside an expression
    tree)."""
    n = F.size(wf)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )

    def tok(i: Column) -> Column:
        acc = F.element_at(wf, i)
        for j in range(1, k):
            acc = (acc * FP_BASE + F.element_at(wf, i + j)) % FP_MOD
        return acc

    return F.transform(idx, tok)


def py_shingle_tokens(text: str, k: int) -> list[int]:
    """Pure-python twin of ``array_distinct(shingle_tokens_from_fps(
    word_fingerprints(text), k))`` — the DISTINCT k-word-shingle
    rolling-hash tokens, insertion-ordered.  Single source of truth
    for every Arrow UDF that needs per-row tokens
    (``shingle_token_udf``, ``operators.dedup.simhash_udf``): one
    implementation, one drift surface for the batch/stream
    value-identity contracts."""
    fps = []
    for w in text.split(" "):
        h = 0
        for ch in w:
            h = (h * FP_BASE + ord(ch)) % FP_MOD
        fps.append(h)
    n = len(fps)
    toks: dict[int, None] = {}
    for i in range(n - k + 1):
        acc = fps[i]
        for j in range(1, k):
            acc = (acc * FP_BASE + fps[i + j]) % FP_MOD
        toks[acc] = None
    return list(toks)


def shingle_token_udf(k: int):
    """Arrow-batched fast path for k-shingle tokens: returns a pandas
    UDF ``text -> array<bigint>`` of the doc's DISTINCT k-word-shingle
    rolling-hash tokens — the exact integer values of
    ``array_distinct(shingle_tokens_from_fps(word_fingerprints(text), k))``.

    Kept for A/B because Catalyst evaluates higher-order functions
    interpreted (no whole-stage codegen).  Current measurement at
    sf0.1 (after the materialized-wf fix in token_postings): the
    pure-column path wins warm (0.25s vs 0.44s for the full postings
    scan) and ties cold — the Python worker round-trip costs more
    than interpreted HOF evaluation at this shingle size.  Kept
    value-identical so either path satisfies the DuckDB oracle.
    """
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    from pyspark.sql.functions import pandas_udf

    def _tokens(texts):
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            out.append(py_shingle_tokens(t, k))
        return pd.Series(out, dtype=object)

    _tokens.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_tokens, ArrayType(LongType()))


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial rolling hash over the characters of ``text``:
    ``h = (h*131 + codepoint) mod 1e9+7``, sequential left fold.

    Stays < 2^63 at every step, so 64-bit integer semantics are
    identical across Spark and DuckDB.  This is the document
    fingerprint primitive for the dedup/text-analysis surface.

    Char access is substring-by-index (not ``split(text, '')``, whose
    Java regex semantics append a trailing empty string) so the
    construction is position-identical with the oracle's
    ``text[i]`` indexing.
    """
    codes = F.transform(
        F.sequence(F.lit(1), F.length(text)),
        lambda i: F.ascii(F.substring(text, i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FP_BASE + c) % FP_MOD,
    )


def char_ngrams(text: Column, n: int) -> Column:
    """All length-``n`` character substrings of ``text`` in order;
    empty array when the string is shorter than ``n`` (the guard
    matters: ``sequence(1, len-n+1)`` with a negative span would
    produce a DESCENDING sequence, not an empty one).  Shared
    substrate for the q-gram fuzzy join and the char-n-gram LM."""
    return F.when(
        F.length(text) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(text) - (n - 1)),
            lambda i: F.substring(text, i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
