"""Z-order (Morton) spatial sort key — the data-layout side of the tiling
story. Sorting/range-partitioning a 10^12-row image table by this key
clusters spatially-near rows into the same files, so every per-file
lon/lat min/max footprint is tight and an AOI query's parquet row-group
statistics skip almost everything (the same mechanism Delta/Iceberg
OPTIMIZE ZORDER uses). Pure Catalyst bit arithmetic — codegen'd, no UDF —
with a bit-identical DuckDB mirror for the oracle.

The reference has no layout notion at all (flat GeoJSON lists); this is
scale engineering the Spark engine adds, like the cell join.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

BITS = 16  # per axis → 32-bit interleaved key


def _quant(v: Column, lo: float, hi: float) -> Column:
    """Quantize to [0, 2^BITS): floor((v-lo)/(hi-lo) * 2^BITS), clamped."""
    scaled = F.floor((v - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(1 << BITS)))
    return F.least(
        F.greatest(scaled.cast("long"), F.lit(0)), F.lit((1 << BITS) - 1)
    )


def _quant_sql(v: str, lo: float, hi: float) -> str:
    from . import geo

    scale = geo.dlit(float(1 << BITS))
    return (
        f"least(greatest(CAST(floor((({v}) - {geo.dlit(lo)}) /"
        f" {geo.dlit(hi - lo)} * {scale}) AS BIGINT), 0), {(1 << BITS) - 1})"
    )


def zorder_key(lon: Column, lat: Column,
               lon_range: tuple[float, float] = (-180.0, 180.0),
               lat_range: tuple[float, float] = (-90.0, 90.0)) -> Column:
    """Interleave the two quantized 16-bit axes bit-by-bit (x even bits,
    y odd bits). 32 OR-terms of shift/mask — all inside whole-stage
    codegen."""
    x = _quant(lon, *lon_range)
    y = _quant(lat, *lat_range)
    key = F.lit(0).cast("long")
    for i in range(BITS):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def zorder_key_sql(lon: str, lat: str,
                   lon_range: tuple[float, float] = (-180.0, 180.0),
                   lat_range: tuple[float, float] = (-90.0, 90.0)) -> str:
    x = _quant_sql(lon, *lon_range)
    y = _quant_sql(lat, *lat_range)
    terms = []
    for i in range(BITS):
        terms.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"
