"""Multi-part geometry dispatch (SURVEY §2 gap; conflator.py:485-528).

The reference's per-feature loop dispatches on geometry type and, for
MultiLineString / GeometryCollection, takes the best (minimum) distance
over sub-geometries (conflator.py:485-495 with the per-segment minimum at
:496-528). The engine's packed single-ring rows carry multi-part
geometries as NaN-separated xs/ys arrays (sources/geojson._flatten);
explode_parts() recovers first-class per-part rows — pure Catalyst
(sequence/filter/slice), no Python — and the conflation ladder's top-5
cap, which keeps each feature's nearest part per probe, reproduces the
reference's min-over-sub-geometries exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_parts(df: DataFrame, xs: str = "xs", ys: str = "ys",
                  part_col: str = "part_idx") -> DataFrame:
    """One row per NaN-separated part; single-part rows pass through with
    part_idx=0 (and no slicing cost beyond the boundary scan). Rows with
    an empty or null xs carry no part and are dropped before the scan:
    the reader packs a MultiPoint, an unknown type or an empty
    collection that way, and element_at over an empty array fails.

    Plan shape: boundary positions via filter(sequence) over the array,
    posexplode of the (start, end) ranges, slice per part — all inside
    whole-stage codegen; the explode factor equals the true part count.
    """
    df = df.filter(F.size(F.col(xs)) > 0)
    n = F.size(F.col(xs))
    # separators survive as NaN OR null depending on the ingest path
    # (Arrow list conversion can surface NaN as null) — accept both
    bounds = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: F.isnan(F.element_at(F.col(xs), i))
        | F.element_at(F.col(xs), i).isNull(),
    )
    starts = F.concat(F.array(F.lit(0)), bounds)
    ends = F.concat(bounds, F.array(n + 1))
    ranges = F.zip_with(
        starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))
    )
    other = [c for c in df.columns if c not in (xs, ys)]
    exploded = df.select(
        *other, F.col(xs).alias("__xs"), F.col(ys).alias("__ys"),
        F.posexplode(ranges).alias(part_col, "__r"),
    )
    length = F.col("__r.e") - F.col("__r.s") - 1
    return exploded.select(
        *other,
        F.col(part_col),
        F.slice(F.col("__xs"), F.col("__r.s") + 1, length).alias(xs),
        F.slice(F.col("__ys"), F.col("__r.s") + 1, length).alias(ys),
    ).filter(F.size(F.col(xs)) > 0)
