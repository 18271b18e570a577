"""True S2 cell ids (quadratic projection + Hilbert curve) — the cell
index the north rule names ("S2 level-13").

The engine's default join grid is the equal-angle `CellGrid` (an
explicit, documented substitution tuned for ring-1 joins); this module
adds the *canonical* S2CellId encoding for interoperability: ids produced
here are bit-identical to `s2geometry`'s `S2CellId(S2LatLng)` ids, so an
external consumer can join our per-cell outputs against any S2-indexed
dataset.

Implemented from the published algorithm (s2geometry s2coords.h /
s2cell_id.cc — public Apache-2.0 documentation of the curve):

  lat/lng → XYZ unit vector → cube face (largest |component|, S2's exact
  tie-breaking) → (u,v) face coordinates → quadratic (s,t) transform
  s = u≥0 ? √(1+3u)/2 : 1−√(1−3u)/2 → discrete (i,j) → Hilbert-curve
  position → 64-bit id  face(3b) ‖ pos(2·level b) ‖ 1 ‖ 0…

Two independent implementations, cross-checked by tests/test_s2.py:

  1. `s2_cell_udf` / `s2_cells_ring1_udf` — the engine's encoder, the
     vectorized Arrow path the north star names: a numpy batch kernel
     using the same 4-bits-at-a-time `lookup_pos` table the C++ library
     builds (1024 entries, generated at import).
  2. `s2_sql_ctes` / `s2_sql_ctes_ring1` — the DuckDB oracle mirror: a
     2-bit-per-level Hilbert automaton (`STEP`) unrolled as a chain of
     per-level CTEs (linear-size SQL text).

There is no Catalyst form: Spark interprets higher-order functions, and
an `F.aggregate` fold of the automaton measured 54.7 s against 1.7 s for
the Arrow kernel at level 19 (queries/geo.py).

Ids are emitted as signed int64 (two's-complement view of the uint64 id,
faces 4–5 therefore negative) — the natural representation in both Spark
and DuckDB BIGINT columns; `s2_token` renders the canonical hex token.

Reference context: the reference conflates via per-feature shapely
distance scans (osm_merge/conflator.py:230-267) with no spatial index at
all; the cell index (and this canonical variant) is the Spark-first
replacement that makes the join an equi-join.
"""

from __future__ import annotations

# --- published curve tables (s2coords.cc) ----------------------------------
# kPosToIJ[orientation][position] = ij  (ij = i·2 + j within the parent)
K_POS_TO_IJ = (
    (0, 1, 3, 2),  # canonical order
    (0, 2, 3, 1),  # axes swapped
    (3, 2, 0, 1),  # bits inverted
    (3, 1, 0, 2),  # swapped & inverted
)
# orientation modifier XOR'd in after descending into `position`
K_POS_TO_ORIENTATION = (1, 0, 0, 3)  # (kSwapMask, 0, 0, kInvert|kSwap)

# Inverted per-level automaton: STEP[orient·4 + ij] = pos·4 + next_orient.
# Drives the SQL mirror; the numpy kernel builds its own 4-bit table.
_IJ_TO_POS = [[0] * 4 for _ in range(4)]
for _r in range(4):
    for _pos in range(4):
        _IJ_TO_POS[_r][K_POS_TO_IJ[_r][_pos]] = _pos
STEP = tuple(
    _IJ_TO_POS[_r][_ij] * 4 + (_r ^ K_POS_TO_ORIENTATION[_IJ_TO_POS[_r][_ij]])
    for _r in range(4)
    for _ij in range(4)
)


# --- SQL mirror: scalar formulas and the per-level CTE chain ---------------
def _face_uv_exprs(lon: str, lat: str) -> tuple[str, str, str]:
    """(face, u, v) as SQL expression strings over radians.

    The trig tree mirrors _faceij30_numpy term for term, so the only
    cross-engine risk is libm ulp drift — the same (accepted, measured-
    zero-at-test-sf) risk every haversine oracle in this repo carries.
    """
    x = f"(cos(radians({lat})) * cos(radians({lon})))"
    y = f"(cos(radians({lat})) * sin(radians({lon})))"
    z = f"(sin(radians({lat})))"
    # S2 LargestAbsComponent tie-breaking, verbatim: x>y? (x>z?0:2):(y>z?1:2)
    axis = (
        f"(CASE WHEN abs({x}) > abs({y}) THEN"
        f" (CASE WHEN abs({x}) > abs({z}) THEN 0 ELSE 2 END)"
        f" ELSE (CASE WHEN abs({y}) > abs({z}) THEN 1 ELSE 2 END) END)"
    )
    comp = f"(CASE {axis} WHEN 0 THEN {x} WHEN 1 THEN {y} ELSE {z} END)"
    face = f"(CASE WHEN {comp} < 0 THEN {axis} + 3 ELSE {axis} END)"
    # ValidFaceXYZtoUV, one CASE per face
    u = (
        f"(CASE {face}"
        f" WHEN 0 THEN {y} / {x}"
        f" WHEN 1 THEN -({x}) / {y}"
        f" WHEN 2 THEN -({x}) / {z}"
        f" WHEN 3 THEN {z} / {x}"
        f" WHEN 4 THEN {z} / {y}"
        f" ELSE -({y}) / {z} END)"
    )
    v = (
        f"(CASE {face}"
        f" WHEN 0 THEN {z} / {x}"
        f" WHEN 1 THEN {z} / {y}"
        f" WHEN 2 THEN -({y}) / {z}"
        f" WHEN 3 THEN {y} / {x}"
        f" WHEN 4 THEN -({x}) / {y}"
        f" ELSE -({x}) / {z} END)"
    )
    return face, u, v


def _st_expr(uv: str) -> str:
    """Quadratic UVtoST: s = u≥0 ? √(1+3u)/2 : 1 − √(1−3u)/2."""
    return (
        f"(CASE WHEN {uv} >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * ({uv}))"
        f" ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * ({uv})) END)"
    )


def _ij_expr(st: str, level: int) -> str:
    """Discretize ST to `level` bits: clamp(floor(2^level·s), 0, 2^level−1).

    (S2 discretizes at level 30 then truncates; the Hilbert prefix of
    length 2·level depends only on the top `level` bits of i/j, and
    floor(2^30·s) >> (30−level) == floor(2^level·s), so discretizing at
    the target level directly is exact — asserted against the level-30
    numpy path in tests.)
    """
    lim = 1 << level
    return (
        f"(CAST(greatest(0, least({lim - 1},"
        f" CAST(floor({float(lim)} * {st}) AS BIGINT))) AS BIGINT))"
    )


def _signed_face_term(level: int) -> tuple[int, int, int]:
    """(pos_scale, lsb, face_wrap) for id = sf·2^61 + pos·pos_scale + lsb
    where sf = face<4 ? face : face−8 (two's-complement view of face<<61).
    """
    lsb_shift = 2 * (30 - level)
    return 1 << (lsb_shift + 1), 1 << lsb_shift, 1 << 61


def s2_sql_ctes(
    src: str,
    lon: str = "lon",
    lat: str = "lat",
    level: int = 13,
    keep: str = "*",
    prefix: str = "s2c",
) -> tuple[str, str]:
    """DuckDB oracle mirror: returns (cte_chain_sql, final_cte_name).

    `src` is an existing CTE/table name; the chain adds `s2_cell` while
    keeping `keep` columns. Same automaton, same tables, unrolled as
    `level` tiny CTEs (each one STEP lookup) — linear SQL text, no
    expression blowup in DuckDB's planner either.
    """
    face_s, u_s, v_s = _face_uv_exprs(lon, lat)
    i_s = _ij_expr(_st_expr(u_s), level)
    j_s = _ij_expr(_st_expr(v_s), level)
    ctes = [
        f"{prefix}0 AS (SELECT {keep}, {face_s} AS s2f, {i_s} AS s2i,"
        f" {j_s} AS s2j FROM {src})"
    ]
    ctes += _hilbert_chain_ctes(f"{prefix}0", level, prefix)
    return ", ".join(ctes), f"{prefix}_out"


def _hilbert_chain_ctes(src: str, level: int, prefix: str) -> list[str]:
    """The per-level automaton CTEs: `src` must expose s2f/s2i/s2j; the
    final CTE `{prefix}_out` replaces them with `s2_cell`."""
    step_list = "[" + ", ".join(str(s) for s in STEP) + "]"
    ctes = [
        f"{prefix}h0 AS (SELECT *, CAST(0 AS BIGINT) AS pos,"
        f" s2f & 1 AS orient FROM {src})"
    ]
    for k in range(1, level + 1):
        b = level - k
        ij = f"(((s2i >> {b}) & 1) * 2 + ((s2j >> {b}) & 1))"
        st = f"({step_list}[orient * 4 + {ij} + 1])"
        ctes.append(
            f"{prefix}h{k} AS (SELECT * REPLACE (pos * 4 + ({st} >> 2) AS pos,"
            f" {st} & 3 AS orient) FROM {prefix}h{k - 1})"
        )
    pos_scale, lsb, _ = _signed_face_term(level)
    ctes.append(
        f"{prefix}_out AS (SELECT * EXCLUDE (s2f, s2i, s2j, pos, orient),"
        f" (CASE WHEN s2f < 4 THEN s2f ELSE s2f - 8 END) * {1 << 61}"
        f" + pos * {pos_scale} + {lsb} AS s2_cell FROM {prefix}h{level})"
    )
    return ctes


def s2_sql_ctes_ring1(
    src: str,
    lon: str = "lon",
    lat: str = "lat",
    level: int = 19,
    keep: str = "*",
    prefix: str = "s2r",
) -> tuple[str, str]:
    """Oracle mirror of `s2_cells_ring1_udf`: dilate in (face,i,j) space
    (3×3, clamped to the face), dedup, then the Hilbert chain. `keep`
    must uniquely identify source rows (the DISTINCT stands in for the
    engine's per-row array_distinct)."""
    face_s, u_s, v_s = _face_uv_exprs(lon, lat)
    i_s = _ij_expr(_st_expr(u_s), level)
    j_s = _ij_expr(_st_expr(v_s), level)
    lim = (1 << level) - 1
    ctes = [
        f"{prefix}0 AS (SELECT {keep}, {face_s} AS s2f, {i_s} AS s2i,"
        f" {j_s} AS s2j FROM {src})",
        f"{prefix}d AS (SELECT DISTINCT {keep}, s2f,"
        f" greatest(0, least({lim}, s2i + di)) AS s2i,"
        f" greatest(0, least({lim}, s2j + dj)) AS s2j FROM {prefix}0"
        " CROSS JOIN (SELECT unnest([-1, 0, 1]) AS di) od"
        " CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dj) oj)",
    ]
    ctes += _hilbert_chain_ctes(f"{prefix}d", level, prefix)
    return ", ".join(ctes), f"{prefix}_out"


# --- vectorized Arrow path (the north star's "vectorized Arrow UDFs") ------
def _build_lookup_pos():
    """The C++ library's 4-bits-at-a-time lookup table (maze recursion from
    s2cell_id.cc InitLookupCell) — 1024 entries, built at import."""
    lookup_pos = [0] * (1 << 10)

    def init(level, i, j, orig_orientation, pos, orientation):
        if level == 4:
            ij = (i << 4) + j
            lookup_pos[(ij << 2) + orig_orientation] = (pos << 2) + orientation
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = K_POS_TO_IJ[orientation]
        for subpos in range(4):
            ij = r[subpos]
            init(
                level, i + (ij >> 1), j + (ij & 1), orig_orientation,
                pos + subpos, orientation ^ K_POS_TO_ORIENTATION[subpos],
            )

    for orientation in range(4):
        init(0, 0, 0, orientation, 0, orientation)
    return lookup_pos


def s2_cell_numpy(lon, lat, level: int = 13):
    """Batch kernel: canonical level-30 leaf via the 1024-entry table,
    truncated to `level` — the independent cross-check for the automaton
    paths (different table, different bit schedule, same ids).
    Returns int64 (two's-complement view of the uint64 id)."""
    face, i, j = _faceij30_numpy(lon, lat)
    return _fold30_numpy(face, i, j, level)


def _faceij30_numpy(lon, lat):
    """(lon, lat) arrays → (face, i30, j30) int64 arrays (level-30 ij)."""
    import numpy as np

    lon_r = np.radians(np.asarray(lon, dtype=np.float64))
    lat_r = np.radians(np.asarray(lat, dtype=np.float64))
    x = np.cos(lat_r) * np.cos(lon_r)
    y = np.cos(lat_r) * np.sin(lon_r)
    z = np.sin(lat_r)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    comp = np.choose(axis, [x, y, z])
    face = np.where(comp < 0, axis + 3, axis).astype(np.int64)
    u = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [y / x, -x / y, -x / z, z / x, z / y],
        default=-y / z,
    )
    v = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [z / x, z / y, -y / z, y / x, -x / y],
        default=-x / z,
    )

    def st(w):
        # w<0 branch: 1 − √(1−3w)/2 == 1 − √(1+3|w|)/2 — one sqrt on
        # |w| serves both branches (and never sees a negative argument)
        q = 0.5 * np.sqrt(1.0 + 3.0 * np.abs(w))
        return np.where(w >= 0, q, 1.0 - q)

    lim = 1 << 30
    i = np.clip(np.floor(lim * st(u)), 0, lim - 1).astype(np.int64)
    j = np.clip(np.floor(lim * st(v)), 0, lim - 1).astype(np.int64)
    return face, i, j


def _fold30_numpy(face, i, j, level: int):
    """(face, i30, j30) → canonical signed-int64 id at `level` (the
    1024-entry lookup fold from s2_cell_numpy, shared with the ring-1
    batch kernel)."""
    import numpy as np

    lookup_pos = np.array(_build_lookup_pos(), dtype=np.int64)
    n = face.astype(np.uint64) << np.uint64(60)
    bits = face & 1  # kSwapMask bit seeds the orientation
    for k in range(7, -1, -1):
        bits = bits + (((i >> (k * 4)) & 15) << 6) + (((j >> (k * 4)) & 15) << 2)
        bits = lookup_pos[bits]
        n |= (bits >> 2).astype(np.uint64) << np.uint64(k * 8)
        bits = bits & 3
    leaf = n * np.uint64(2) + np.uint64(1)
    lsb = np.uint64(1) << np.uint64(2 * (30 - level))
    parent = (leaf & ~(np.uint64(2) * lsb - np.uint64(1))) | lsb
    return parent.view(np.int64)


def s2_cells_ring1_numpy(lon, lat, level: int):
    """Ring-1 cell set per row: the (n, 9) int64 array of the row's cell +
    its 8 ij-neighbors at `level`, clamped to the face (clamp duplicates
    left in — callers array_distinct). Neighbor arithmetic happens in
    level-`level` ij space, like s2_sql_ctes_ring1; shifting back to
    level-30 space feeds the shared fold (any leaf inside a cell folds to
    the same parent id).

    Cross-face adjacency is NOT generated: a probe within the threshold
    of a build point across a cube-face edge lands in a cell this
    dilation misses. Joins must therefore use a level whose min cell
    width exceeds the distance threshold AND an AOI that does not
    straddle a face edge (the engine's default CellGrid join has no such
    caveat and remains the general-case operator; the S2 variant exists
    for canonical-id interop per the north rule)."""
    import numpy as np

    face, i30, j30 = _faceij30_numpy(lon, lat)
    s = 30 - level
    lim = (1 << level) - 1
    il, jl = i30 >> s, j30 >> s
    cols = []
    for di in (-1, 0, 1):
        for dj in (-1, 0, 1):
            ni = np.clip(il + di, 0, lim) << s
            nj = np.clip(jl + dj, 0, lim) << s
            cols.append(_fold30_numpy(face, ni, nj, level))
    return np.stack(cols, axis=1)


def s2_cells_ring1_udf(level: int = 19):
    """Arrow-batched pandas UDF: (lon, lat) -> array<long> of 9 ring-1
    cell ids (with clamp duplicates) — the vectorized build-side encoder
    for the S2-keyed distance join (the numpy fold is 8 table lookups
    over the whole batch). Same cross-face caveat as
    s2_cells_ring1_numpy: no neighbors across a cube-face edge."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        cells = s2_cells_ring1_numpy(lon.to_numpy(), lat.to_numpy(), level)
        return pd.Series(list(cells))

    _enc.__annotations__ = {"lon": pd.Series, "lat": pd.Series, "return": pd.Series}
    return pandas_udf(_enc, "array<long>")


def s2_cell_udf(level: int = 13):
    """Arrow-batched pandas UDF: s2_cell_udf(13)(lon, lat) -> long."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(s2_cell_numpy(lon.to_numpy(), lat.to_numpy(), level))

    # explicit annotations dodge `from __future__ import annotations`
    # string-izing the hints out of pandas_udf's type inference
    _enc.__annotations__ = {"lon": pd.Series, "lat": pd.Series, "return": pd.Series}
    return pandas_udf(_enc, "long")


def s2_token(cell: int) -> str:
    """Canonical hex token (uint64 hex, trailing zeros stripped)."""
    u = cell & 0xFFFFFFFFFFFFFFFF
    return format(u, "016x").rstrip("0") or "X"
