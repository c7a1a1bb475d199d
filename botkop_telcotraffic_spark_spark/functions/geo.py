"""Geospatial helpers of the query registry.

``geohash_sql`` emits the standard base32 geohash as one arithmetic
expression for Spark or DuckDB; ``rect_geofence_join`` matches points
against a table of axis-aligned rectangles.  The streaming product's
polygon containment (``point_in_polygon_literal``,
``polygon_geofence_join``) is ``operators/geofence.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rect_geofence_join(
    points: DataFrame,
    fences: DataFrame,
    x_col: str = "lng",
    y_col: str = "lat",
) -> DataFrame:
    """Axis-aligned rectangle containment join: a broadcast cross
    join, the fence table being the broadcast side.

    ``fences`` columns: name, lat_min, lat_max, lng_min, lng_max.
    Inner semantics (non-matching points dropped), like the reference.
    """
    cond = (
        F.col(y_col).between(F.col("lat_min"), F.col("lat_max"))
        & F.col(x_col).between(F.col("lng_min"), F.col("lng_max"))
    )
    return points.crossJoin(F.broadcast(fences)).where(cond)


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
