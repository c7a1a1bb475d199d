"""Quoting helpers for SQL text.

Hot-path expressions are built as SQL text and parsed JVM-side in one
call (a Column tree costs one Py4J round-trip per node).  Every value
that enters such text goes through one of these helpers: ``sql_str``
for strings, ``sql_ident`` for identifiers, ``sql_double`` for
doubles.
"""

from __future__ import annotations

import math


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
