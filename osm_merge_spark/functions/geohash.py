"""Geohash encoding — the third spatial-addressing scheme next to the
S2 cells (functions/s2.py) and Bing quadkeys (queries/geo3.py), and the
one most real lake tables are partitioned by in practice. Like those two
it is pure Catalyst bit arithmetic (codegen'd, no UDF) with a
bit-identical DuckDB SQL mirror for the oracle.

A geohash is the base32 rendering of the Morton interleave of the two
quantized axes, longitude first from the most-significant bit, over the
FULL WGS84 ranges [-180,180] / [-90,90] (public spec; equivalent to the
recursive bisection formulation — each interleaved bit IS one bisection
step). Prefix truncation = coarsening, which is what makes it a good
hierarchical partition key: a prefix range-scan prunes files exactly like
the z-order key in functions/zorder.py.

The reference has no addressing scheme at all (flat feature lists); this
is the layout/partitioning layer the Spark engine adds for 10^12-row
tables.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
PRECISION = 6  # 30 bits → cell ≈ 1.2 km × 0.6 km, the common tile size


def _axis_bits(precision: int) -> tuple[int, int]:
    total = 5 * precision
    return (total + 1) // 2, total // 2  # lon gets the extra bit when odd


def _interleaved(lon: Column, lat: Column, precision: int) -> Column:
    nlon, nlat = _axis_bits(precision)
    ix = F.least(
        F.greatest(
            F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << nlon)))
            .cast("long"),
            F.lit(0),
        ),
        F.lit((1 << nlon) - 1),
    )
    iy = F.least(
        F.greatest(
            F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << nlat)))
            .cast("long"),
            F.lit(0),
        ),
        F.lit((1 << nlat) - 1),
    )
    total = 5 * precision
    v = F.lit(0).cast("long")
    for j in range(total):  # j counts from the MSB; even positions are lon
        if j % 2 == 0:
            src, bit = ix, nlon - 1 - j // 2
        else:
            src, bit = iy, nlat - 1 - j // 2
        v = v.bitwiseOR(
            F.shiftleft(F.shiftright(src, bit).bitwiseAND(F.lit(1)),
                        total - 1 - j)
        )
    return v


def geohash(lon: Column, lat: Column, precision: int = PRECISION) -> Column:
    """Base32 geohash string of the given precision (pure Catalyst)."""
    v = _interleaved(lon, lat, precision)
    chars = [
        F.lit(ALPHABET).substr(
            (F.shiftright(v, 5 * (precision - 1 - c)).bitwiseAND(F.lit(31))
             + F.lit(1)).cast("int"),
            F.lit(1),
        )
        for c in range(precision)
    ]
    return F.concat(*chars)


def _interleaved_sql(lon: str, lat: str, precision: int) -> str:
    from . import geo

    nlon, nlat = _axis_bits(precision)
    ix = (
        f"least(greatest(CAST(floor((({lon}) + {geo.dlit(180.0)}) /"
        f" {geo.dlit(360.0)} * {geo.dlit(float(1 << nlon))}) AS BIGINT), 0),"
        f" {(1 << nlon) - 1})"
    )
    iy = (
        f"least(greatest(CAST(floor((({lat}) + {geo.dlit(90.0)}) /"
        f" {geo.dlit(180.0)} * {geo.dlit(float(1 << nlat))}) AS BIGINT), 0),"
        f" {(1 << nlat) - 1})"
    )
    total = 5 * precision
    terms = []
    for j in range(total):
        if j % 2 == 0:
            src, bit = ix, nlon - 1 - j // 2
        else:
            src, bit = iy, nlat - 1 - j // 2
        terms.append(f"((({src} >> {bit}) & 1) << {total - 1 - j})")
    return "(" + " | ".join(terms) + ")"


def geohash_chars_sql(v: str, precision: int = PRECISION) -> str:
    """Base32 rendering of an already-computed interleave expression `v` —
    use with a CTE so the 30-term interleave is stated once, not once per
    character."""
    chars = [
        f"substring('{ALPHABET}', CAST((({v} >> {5 * (precision - 1 - c)})"
        " & 31) + 1 AS INT), 1)"
        for c in range(precision)
    ]
    return "(" + " || ".join(chars) + ")"
