"""SQL-surface function library (Spark 4 SQL UDFs).

The engine's column-expression helpers (functions/{geo,vector,
textfn}.py) serve the DataFrame API; this module registers the same
capabilities as **SQL scalar functions** (`CREATE TEMPORARY FUNCTION
... RETURN <expr>`) so the pure-SQL surface (views + spark.sql, see
`sql_text_surface`) has them too.  SQL UDFs are inlined into the plan
as expressions — they codegen like any builtin, unlike external UDFs
(no Python boundary, no black box to the optimizer).  It also holds
the quoting helpers every value goes through on its way into SQL
text (``sql_str``, ``sql_ident``, ``sql_double``).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

# name -> (signature, return type, body)
_FUNCTIONS: dict[str, tuple[str, str, str]] = {
    # bad-word gate score: 1 - flagged fraction (0 for empty docs)
    "quality_frac": (
        "(n_words INT, n_flagged INT)",
        "DOUBLE",
        "CASE WHEN n_words = 0 THEN 0.0 "
        "ELSE 1.0 - n_flagged / n_words END",
    ),
    # hamming distance between two 64-bit fingerprints (SimHash sigs)
    "hamming64": (
        "(a BIGINT, b BIGINT)",
        "INT",
        "bit_count(a ^ b)",
    ),
    # whitespace token count (the engine-wide tokenizer)
    "n_tokens": (
        "(text STRING)",
        "INT",
        "size(split(text, ' '))",
    ),
    # euclidean distance between two double arrays (fold-exact, the
    # same formula as functions/vector.py)
    "euclid": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)",
        "DOUBLE",
        "sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (s, v) -> s + v))",
    ),
}


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Idempotently register the engine's SQL UDFs; returns names."""
    for name, (sig, ret, body) in _FUNCTIONS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{sig} "
            f"RETURNS {ret} RETURN {body}"
        )
    return list(_FUNCTIONS)


# --- literals for SQL text ------------------------------------------------
#
# Hot-path expressions are built as SQL text and parsed JVM-side in one
# call (a Column tree costs one Py4J round-trip per node).  Every value
# that enters such text goes through one of these helpers.


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal that parses back to exactly
    ``s``: backslash-escaped quote and backslash, and every character
    outside printable ASCII as ``\\uXXXX`` UTF-16 units (a surrogate
    pair above the BMP).  Assumes the default
    ``spark.sql.parser.escapedStringLiterals=false``."""
    out = []
    for ch in s:
        if ch in "'\\":
            out.append("\\" + ch)
        elif " " <= ch <= "~":
            out.append(ch)
        else:
            units = ch.encode("utf-16-be")
            out.extend(
                f"\\u{units[i]:02x}{units[i + 1]:02x}" for i in range(0, len(units), 2)
            )
    return "'" + "".join(out) + "'"


def sql_ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_double(x: float) -> str:
    """``x`` as a DOUBLE literal.  ``repr`` is the shortest decimal that
    round-trips and Java's ``Double.parseDouble`` rounds correctly, so
    the literal is the same double bit for bit; a bare decimal would
    parse as DECIMAL, hence the ``D``.  NaN and ±Inf have no literal
    form and raise ValueError."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"{x!r} has no SQL literal")
    return f"{x!r}D"
