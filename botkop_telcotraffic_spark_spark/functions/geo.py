"""Geospatial predicates as pure JVM column expressions.

The reference calls an external library for point-in-polygon
(``GeoUtil.containsLocation`` at
``/root/reference/src/main/scala/traffic/process/Geofencer.scala:30``).
Here the standard even-odd ray-casting test runs as JVM expressions —
no Python, no UDF — in two forms: ``point_in_polygon`` over a polygon
COLUMN (Catalyst higher-order functions, ``filter`` over the edge
indices), and ``point_in_polygon_literal`` for a plan-time constant
polygon, unrolled into one SQL expression that stays inside
whole-stage codegen.  The streaming geofence (J3) uses the literal
form: there is no join, so no side is hashed or broadcast; the fence
list rides in the projection as constants.

Edge cases: horizontal edges (y_i == y_j) make the crossing test's
first conjunct false, so the division-by-zero branch is never *used*;
Spark yields ±Infinity and DuckDB yields NULL for x/0.0, and both
collapse to false under ``AND false`` — semantics agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqlfn import sql_double


def point_in_polygon(
    px: Column,
    py: Column,
    polygon: Column,
    x_field: str = "lng",
    y_field: str = "lat",
) -> Column:
    """Even-odd ray-casting containment.

    ``polygon`` is ``array<struct<lat:double, lng:double>>`` (field
    names configurable).  Returns a boolean column: true iff point
    (px, py) is inside.  Vertices are not required to repeat the first
    point; edges wrap around via modular indexing.
    """
    n = F.size(polygon)

    def crossing(i: Column) -> Column:
        vi = F.element_at(polygon, i + 1)
        vj = F.element_at(polygon, F.pmod(i + 1, n) + 1)
        xi, yi = vi[x_field], vi[y_field]
        xj, yj = vj[x_field], vj[y_field]
        return ((yi > py) != (yj > py)) & (
            px < (xj - xi) * (py - yi) / (yj - yi) + xi
        )

    crossings = F.filter(F.sequence(F.lit(0), n - 1), crossing)
    return F.size(crossings) % 2 == 1


def point_in_polygon_literal(
    px: str, py: str, vertices: list[tuple[float, float]]
) -> str:
    """Ray casting against a *plan-time constant* polygon, unrolled
    into ONE SQL expression: one crossing term per edge, parity via
    sum % 2.  ``px``/``py`` are SQL expressions; ``vertices`` is
    [(x, y), ...] in the same axis order.  No higher-order functions,
    so it stays inside whole-stage codegen (~20x faster per row than
    the generic HOF variant), and as text it costs one JVM parse
    instead of a Py4J round-trip per Column node.

    Each term computes ``(xj - xi) * (py - yi) / (yj - yi) + xi`` in
    that order, with ``xj - xi`` and ``yj - yi`` folded in Python:
    the hits are bit-identical to a Python ray cast with the same
    operations.  Coordinates go in through ``sql_double`` (NaN/±Inf
    raise ValueError).
    """
    n = len(vertices)
    terms = []
    for i in range(n):
        xi, yi = vertices[i]
        xj, yj = vertices[(i + 1) % n]
        if yi == yj:
            continue  # horizontal edge can never satisfy the crossing test
        sxi, syi, syj = sql_double(xi), sql_double(yi), sql_double(yj)
        terms.append(
            f"CAST((({syi} > {py}) != ({syj} > {py})) AND ({px} < "
            f"({py} - {syi}) * {sql_double(xj - xi)} / {sql_double(yj - yi)}"
            f" + {sxi}) AS INT)"
        )
    if not terms:
        return "false"
    return f"(({' + '.join(terms)}) % 2 = 1)"


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_sql(
    lat_sql: str, lng_sql: str, precision: int, dialect: str
) -> str:
    """Standard base32 geohash as ONE arithmetic expression, emitted
    for either engine (``dialect`` = 'spark' | 'duckdb') from a
    single generator so the two sides cannot drift — the geo twin of
    the shared fingerprint SQL (spatial bucketing / prefix range
    scans; complements the Z-order layout in sources/layout.py).

    Bit layout per the public spec: 5·precision bits, longitude
    first, alternating; each 5-bit group maps through the base32
    alphabet.  Integer math only (quantize → interleave via shifts),
    identical across engines; lat/lng clamped to the valid range, so
    the +90/+180 upper edges land in the last cell.
    """
    if dialect == "spark":
        def shr(x: str, n: int) -> str:
            return f"shiftright({x}, {n})"
    elif dialect == "duckdb":
        def shr(x: str, n: int) -> str:
            return f"(({x}) >> {n})"
    else:  # pragma: no cover - guarded by callers
        raise ValueError(f"unknown dialect {dialect!r}")
    bits = 5 * precision
    lon_bits = (bits + 1) // 2
    lat_bits = bits - lon_bits

    def quant(v_sql: str, lo: float, hi: float, nb: int) -> str:
        return (
            f"CAST(least(CAST({(1 << nb) - 1} AS BIGINT), greatest(CAST(0 AS BIGINT), "
            f"CAST(floor((least(greatest(CAST({v_sql} AS DOUBLE), {lo!r}), {hi!r})"
            f" - {lo!r}) / {hi - lo!r} * {1 << nb}) AS BIGINT))) AS BIGINT)"
        )

    lon = quant(lng_sql, -180.0, 180.0, lon_bits)
    lat = quant(lat_sql, -90.0, 90.0, lat_bits)
    terms = []
    li = la = 0
    for pos in range(bits):  # MSB-first interleave, lon on even slots
        out_sh = bits - 1 - pos
        if pos % 2 == 0:
            bit = f"({shr(lon, lon_bits - 1 - li)} % 2)"
            li += 1
        else:
            bit = f"({shr(lat, lat_bits - 1 - la)} % 2)"
            la += 1
        terms.append(f"{bit} * CAST({1 << out_sh} AS BIGINT)" if out_sh else bit)
    # NULL coordinates must yield NULL cells in BOTH dialects.  Spark
    # greatest/least SKIP nulls (a null lat would silently quantize
    # to the range floor), so the interleave sum carries an arithmetic
    # null-poison term — CAST(lat*0 + lng*0 AS BIGINT) is 0 normally,
    # NULL if either coordinate is NULL, and unlike an outer CASE it
    # does not wrap the big tree in a conditional (a CASE around the
    # concat disabled codegen subexpression sharing and cost 14x —
    # 0.4 s -> 5.5 s at sf0.1).
    poison = (
        f"CAST(({lat_sql}) * 0 + ({lng_sql}) * 0 AS BIGINT)"
    )
    total = "(" + " + ".join(terms) + f" + {poison})"
    chars = [
        f"substr('{GEOHASH_ALPHABET}', "
        f"CAST({shr(total, 5 * (precision - 1 - c))} % 32 AS INT) + 1, 1)"
        for c in range(precision)
    ]
    body = "concat(" + ", ".join(chars) + ")"
    if dialect == "duckdb":
        # DuckDB concat SKIPS null chars ('' instead of NULL) — only
        # there an outer guard is needed (and cheap: no codegen CSE
        # at stake)
        return (
            f"(CASE WHEN ({lat_sql}) IS NULL OR ({lng_sql}) IS NULL "
            f"THEN NULL ELSE {body} END)"
        )
    return body
