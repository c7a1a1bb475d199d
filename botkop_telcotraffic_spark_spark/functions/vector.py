"""Vector math as pure JVM column expressions (no UDFs).

Replaces the reference's executor-local Scala helpers — euclidean
distance at ``/root/reference/src/main/scala/traffic/process/ClusterAnalyser.scala:186-188``
— with Catalyst higher-order functions, so distance math stays inside
whole-stage codegen and works on ``array<float|double>`` columns of
any length.

Determinism note: ``F.aggregate`` is a *sequential left fold* over the
array, so the floating-point summation order is fixed (index order).
The DuckDB oracle uses ``list_reduce`` (also a left fold) so both
engines produce bit-identical doubles.

These serve the query registry.  The streaming product's distance,
the SQL-text ``euclidean_sql`` and ``euclidean_unrolled_sql``, lives
with its one caller in ``operators/kmeans.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two equal-length array columns."""
    return _fold_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def euclidean(a: Column, b: Column) -> Column:
    """sqrt(sum((a_i - b_i)^2)) — parity with ClusterAnalyser.scala:186-188."""
    d = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.sqrt(_fold_sum(d))


def dot_sql(a: str, b: str) -> str:
    """SQL-string twin of :func:`dot` (one JVM parse instead of ~15
    Py4J Column constructions + 2 lambda registrations per call —
    same zip_with + left-fold aggregate tree, same cast/multiply
    order, bit-identical doubles)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    """SQL-string twin of :func:`norm`."""
    return f"sqrt({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    """SQL-string twin of :func:`cosine`."""
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"


def euclidean_unrolled(a: Column, b: Column, dim: int) -> Column:
    """``euclidean`` with the fold UNROLLED for a statically-known
    ``dim``: a flat chain of element_at/subtract/multiply/add scalar
    ops that whole-stage codegen compiles, where the higher-order
    zip_with+aggregate form is INTERPRETED per call (the documented
    HOF slow path — ruinous when an expression tree repeats the fold
    k times, e.g. k distance evaluations per row in nearest-centroid
    assignment).

    Bit-identical to :func:`euclidean`: the unrolled sum is the same
    left-associated addition order as the sequential fold
    (0.0 + d1 == d1 exactly, then + d2 + ...), so engine/oracle
    hashes cannot move."""
    terms = None
    for i in range(1, dim + 1):
        x = F.element_at(a, i).cast("double")
        y = F.element_at(b, i).cast("double")
        t = (x - y) * (x - y)
        terms = t if terms is None else terms + t
    return F.sqrt(terms)
