"""Hierarchical lat/lon cell grid + EPSG:3857 tile keys — native Catalyst.

The north rule calls for H3-res-9 / S2-level-13 style cell indexing. No
h3/s2 library ships in this environment, so the engine uses its own
equal-angle hierarchical grid with the same join semantics (cell equi-key +
k-ring-1 neighbor expansion covers any distance threshold ≤ cell edge).
Crucially this makes cell encoding a *pure Catalyst expression* — floor
arithmetic inside whole-stage codegen — which at 100 TB beats shipping every
row through an Arrow batch into a C library and back.

Reference semantics covered:
  - distance-threshold candidate pairing (conflator.py:134-188) → cell join
  - task-grid tiling (utilities/tm-splitter.py:74-129) → EPSG:3857 floor keys
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import geo

# ~167 m cell edge at the equator — comparable to H3 res 9 (~174 m edge).
DEFAULT_RES_DEG = 0.0015

_METERS_PER_DEG = 110_574.0  # worst-case (latitude) meters per degree


@dataclass(frozen=True)
class CellGrid:
    """An equal-angle grid over WGS84. res_deg is the cell edge in degrees."""

    res_deg: float = DEFAULT_RES_DEG

    @property
    def nx(self) -> int:
        """Cells per latitude row (used to linearize (x,y) → one long key)."""
        return int(math.ceil(360.0 / self.res_deg)) + 2

    @classmethod
    def for_radius(cls, radius_m: float, max_abs_lat: float = 75.0) -> "CellGrid":
        """Smallest grid whose k-ring-1 is guaranteed to cover radius_m.

        Cell edge in meters shrinks with cos(lat) along longitude, so the
        grid is sized at the worst latitude the data can reach. Mirrors the
        reference's fixed thresholds (2 m CLI / 7 m class default,
        conflator.py:1072,357) being far below any cell edge.
        """
        shrink = math.cos(math.radians(min(abs(max_abs_lat), 89.0)))
        res = radius_m / (_METERS_PER_DEG * shrink)
        # never finer than ~1e-5 deg (≈1 m) nor coarser than 1 deg
        return cls(res_deg=min(max(res, 1e-5), 1.0))

    # -- encoding ----------------------------------------------------------
    def cell_x(self, lon: Column) -> Column:
        return F.floor((lon + F.lit(180.0)) / F.lit(self.res_deg))

    def cell_y(self, lat: Column) -> Column:
        return F.floor((lat + F.lit(90.0)) / F.lit(self.res_deg))

    def encode(self, lon: Column, lat: Column) -> Column:
        """(lon,lat) → one long cell id. Whole-stage-codegen'd; no Python."""
        return (self.cell_y(lat) * F.lit(self.nx) + self.cell_x(lon)).cast("long")

    def encode_sql(self, lon: str, lat: str) -> str:
        """Identical formula as ANSI SQL for the DuckDB oracle."""
        res = geo.dlit(self.res_deg)
        return (
            f"CAST(floor(({lat} + {geo.dlit(90.0)}) / {res}) * {self.nx} "
            f"+ floor(({lon} + {geo.dlit(180.0)}) / {res}) AS BIGINT)"
        )

    # -- neighbor expansion -------------------------------------------------
    def ring1(self, cell: Column) -> Column:
        """The 3×3 k-ring around a cell id, as an array<long> for explode().

        Joining one side's ring against the other side's raw cell finds
        every pair within one cell edge (offsets are symmetric, so either
        side may carry the ring) — the standard grid spatial join
        (candidate superset, exact refine afterwards).
        """
        offsets = [dy * self.nx + dx for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
        return F.array(*[cell + F.lit(o) for o in offsets])

    def ring1_union(self, cells: Column) -> Column:
        """The ring-1 dilation of an array<long> of cells: the distinct
        union of ring1 over every cell (a geometry's covering set grown by
        one cell edge)."""
        return F.array_distinct(F.flatten(F.transform(cells, self.ring1)))

    def ring1_sql_values(self) -> list[int]:
        """Ring offsets for building the oracle's UNNEST list."""
        return [dy * self.nx + dx for dy in (-1, 0, 1) for dx in (-1, 0, 1)]


@dataclass(frozen=True)
class TileGrid:
    """Axis-aligned EPSG:3857 square tiling (tm-splitter.py:103-113).

    Tile assignment is pure floor arithmetic — an equi-join key, no geometry
    predicate needed (J10 in SURVEY §2.3). Default 50 km steps mirrors
    tm-splitter.py:225-226.
    """

    tile_m: float = 50_000.0

    @property
    def nx(self) -> int:
        world = 2.0 * math.pi * geo.WEB_MERCATOR_R
        return int(math.ceil(world / self.tile_m)) + 2

    def tile_x(self, lon: Column) -> Column:
        return F.floor(geo.mercator_x(lon) / F.lit(self.tile_m))

    def tile_y(self, lat: Column) -> Column:
        return F.floor(geo.mercator_y(lat) / F.lit(self.tile_m))

    def tile_id(self, lon: Column, lat: Column) -> Column:
        return (self.tile_y(lat) * F.lit(self.nx) + self.tile_x(lon)).cast("long")

    def tile_id_sql(self, lon: str, lat: str) -> str:
        size = geo.dlit(self.tile_m)
        return (
            f"CAST(floor(({geo.mercator_y_sql(lat)}) / {size}) * {self.nx} "
            f"+ floor(({geo.mercator_x_sql(lon)}) / {size}) AS BIGINT)"
        )
