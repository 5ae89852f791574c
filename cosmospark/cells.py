"""Hierarchical quadkey cell index + WebMercator tile ids.

This replaces the reference's in-memory rstar R-tree
(src/hierarchy_builder.rs:34-74) as the *distribution* mechanism: instead
of a shared-memory index, geometries and points are assigned int64 grid
cells so that spatial joins become Catalyst-plannable equi-joins and the
fact table can be partitioned/bucketed by cell prefix.

Scheme: aperture-4 quadkey ("H3-style" in spirit, square cells) over the
lon/lat plane — Morton (Z-order) interleave of the x/y indices of a
2^res × 2^res grid on [-180,180] × [-90,90]. The code is a *bijective
prefix scheme*: ``parent(cell) == cell >> 2``, so a res-r cell id is a
2-bit-truncated prefix of its res-(r+1) children — this is what makes the
hierarchical (cell, zone_level) rollup a pure integer-shift groupBy.

Everything here is vectorized numpy (runs inside Arrow batches), plus SQL
expression builders that emit the *same arithmetic* in both Spark SQL and
DuckDB dialects (used by the driver's oracle cross-checks).
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26  # 2*26 = 52 bits < 63

WORLD = (-180.0, -90.0, 180.0, 90.0)


def _grid_xy(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    n = np.int64(1) << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.clip(((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    y = np.clip(((lat + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return x, y


def morton_interleave(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Z-order code: bit i of x at position 2i+1, bit i of y at 2i."""
    out = np.zeros_like(np.asarray(x, dtype=np.int64))
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    for i in range(res):
        out |= ((x >> i) & 1) << (2 * i + 1)
        out |= ((y >> i) & 1) << (2 * i)
    return out


def morton_deinterleave(code: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    code = np.asarray(code, dtype=np.int64)
    x = np.zeros_like(code)
    y = np.zeros_like(code)
    for i in range(res):
        x |= ((code >> (2 * i + 1)) & 1) << i
        y |= ((code >> (2 * i)) & 1) << i
    return x, y


def cell_encode(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """lon/lat arrays → int64 cell ids at resolution ``res``."""
    assert 0 < res <= MAX_RES
    x, y = _grid_xy(lon, lat, res)
    return morton_interleave(x, y, res)


def cell_parent(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    """Ancestor cell ``steps`` resolutions coarser (prefix property)."""
    return np.asarray(cell, dtype=np.int64) >> (2 * steps)


def cell_bounds(cell: int, res: int) -> tuple[float, float, float, float]:
    x, y = morton_deinterleave(np.array([cell]), res)
    n = float(1 << res)
    w = 360.0 / n
    h = 180.0 / n
    minx = -180.0 + float(x[0]) * w
    miny = -90.0 + float(y[0]) * h
    return minx, miny, minx + w, miny + h


def cell_bounds_batch(cell: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(minx, miny, maxx, maxy) arrays for a batch of cells — ONE Morton
    decode over the whole array (the per-cell scalar ``cell_bounds`` in
    a Python loop dominates index-build time at 1000 cells/zone)."""
    return grid_bounds(*morton_deinterleave(np.asarray(cell, dtype=np.int64), res), res)


def grid_bounds(x: np.ndarray, y: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(minx, miny, maxx, maxy) arrays for res-cells given by grid x/y."""
    n = float(1 << res)
    w = 360.0 / n
    h = 180.0 / n
    minx = -180.0 + x.astype(np.float64) * w
    miny = -90.0 + y.astype(np.float64) * h
    return minx, miny, minx + w, miny + h


def cells_for_bbox(minx: float, miny: float, maxx: float, maxy: float, res: int) -> np.ndarray:
    """All res-``res`` cells whose rectangle intersects the bbox."""
    x0, y0 = _grid_xy(np.array([minx]), np.array([miny]), res)
    x1, y1 = _grid_xy(np.array([maxx]), np.array([maxy]), res)
    xs = np.arange(x0[0], x1[0] + 1, dtype=np.int64)
    ys = np.arange(y0[0], y1[0] + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return morton_interleave(gx.ravel(), gy.ravel(), res)


def fit_res(minx: float, miny: float, maxx: float, maxy: float, max_cells: int = 16) -> int:
    """Finest resolution at which the bbox is covered by ≤ max_cells cells.

    This is the adaptive per-geometry resolution: a country indexes at a
    coarse res, a suburb at a fine one, so the per-zone explode is O(1)
    regardless of zone size (the R-tree's adaptivity, reconstructed)."""
    for res in range(MAX_RES, 0, -1):
        x0, y0 = _grid_xy(np.array([minx]), np.array([miny]), res)
        x1, y1 = _grid_xy(np.array([maxx]), np.array([maxy]), res)
        ncells = int(x1[0] - x0[0] + 1) * int(y1[0] - y0[0] + 1)
        if ncells <= max_cells:
            return res
    return 1


# ---------------------------------------------------------------------------
# WebMercator z/x/y tiles (the raster↔vector tile pyramid)


def tile_xy(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -85.05112878, 85.05112878)
    n = np.float64(1 << z)
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, (1 << z) - 1)
    lat_r = np.radians(lat)
    y = np.clip(
        np.floor((1.0 - np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r)) / np.pi) / 2.0 * n).astype(np.int64),
        0,
        (1 << z) - 1,
    )
    return x, y


def tile_encode(lon: np.ndarray, lat: np.ndarray, z: int) -> np.ndarray:
    """Packed tile id: (z << 58) | (x << 29) | y  (29 bits each, z ≤ 29)."""
    x, y = tile_xy(lon, lat, z)
    return (np.int64(z) << 58) | (x << 29) | y


def tile_decode(tile_id: int) -> tuple[int, int, int]:
    z = int(tile_id >> 58) & 0x3F
    x = int(tile_id >> 29) & ((1 << 29) - 1)
    y = int(tile_id) & ((1 << 29) - 1)
    return z, x, y


# ---------------------------------------------------------------------------
# Dialect-shared SQL expression builders.
#
# These emit identical integer arithmetic for Spark SQL and DuckDB so the
# driver's oracle comparison exercises the same cell math end-to-end.


def sql_grid_xy(lon_col: str, lat_col: str, res: int) -> tuple[str, str]:
    n = 1 << res
    x = f"least(greatest(cast(floor(({lon_col} + 180.0) / 360.0 * {n}) as bigint), 0), {n - 1})"
    y = f"least(greatest(cast(floor(({lat_col} + 90.0) / 180.0 * {n}) as bigint), 0), {n - 1})"
    return x, y


def sql_morton(x_expr: str, y_expr: str, res: int) -> str:
    """Morton interleave as a sum of bit-extract terms — valid in both
    Spark SQL and DuckDB (both support &, >>, * on BIGINT)."""
    terms = []
    for i in range(res):
        terms.append(f"((({x_expr}) >> {i}) & 1) * {1 << (2 * i + 1)}")
        terms.append(f"((({y_expr}) >> {i}) & 1) * {1 << (2 * i)}")
    return "(" + " + ".join(terms) + ")"


def sql_cell_encode(lon_col: str, lat_col: str, res: int) -> str:
    x, y = sql_grid_xy(lon_col, lat_col, res)
    return sql_morton(x, y, res)


def col_cell_encode(lon, lat, res: int):
    """Spark Column version of ``cell_encode`` — pure JVM whole-stage
    codegen, no Arrow round-trip. Bit-identical to the numpy kernel: the
    grid math is +,-,*,/ and floor only (IEEE-exact in both runtimes),
    and the Morton interleave uses the 32→64 bit-spread identity instead
    of ``sql_morton``'s 2·res-term sum (same value, O(1) ops).

    ``lon``/``lat`` are Columns; ``res`` ≤ MAX_RES (26 → x,y < 2^26,
    within the 32-bit spread domain)."""
    from pyspark.sql import functions as F

    assert 0 < res <= MAX_RES
    n = 1 << res
    x = F.least(
        F.greatest(F.floor((lon + 180.0) / 360.0 * n).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )
    y = F.least(
        F.greatest(F.floor((lat + 90.0) / 180.0 * n).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )

    def spread(c):
        for sh, m in (
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ):
            c = c.bitwiseOR(F.shiftleft(c, sh)).bitwiseAND(F.lit(m))
        return c

    return F.shiftleft(spread(x), 1).bitwiseOR(spread(y))
