"""Raster ↔ vector tiling over the zone model.

The reference is vector-only (GEOS geometry end to end); the north-star
graft adds a raster leg: rasterize each zone's polygon into per-cell /
per-tile pixel occupancy masks (vector → raster), and recover vector
boxes from a mask (raster → vector), so an image fact table can be
joined against zone coverage at pixel granularity.

One grid-generic core serves both grids, the linear quadkey grid
(``cells``) and the web-mercator z/x/y tile pyramid: the descent, the
FULL expansion, the pixel lattice, the per-zone rows, the mapInPandas
pass, the LUT fold and the raster assign all work on ``(x, y,
level)`` cell coordinates. A ``_Grid`` description holds the five
things the grids differ in — the bbox → x/y span, the cell and pixel
rectangles, the packed cell key, the pixel-bit order inside an 8×8
block, and the fact-side encode with its domain and LUT metadata key —
and each per-grid public function is a thin entry over the core.

Scale shape: one mapInPandas over the ZONE table (zone-dim scale,
embarrassingly parallel per zone — 10^6 zones spread over executors),
each zone emitting one row per covering cell/tile. No shuffle; the
output is a (zone_id, cell) keyed table that equi-joins against
cell-encoded facts. All pixel tests run through the same numpy PIP
kernel as zone assignment (``geom.pip_covers``), vectorized across
every pixel of every covering cell of a zone in one call.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from cosmospark import cells, geom
from cosmospark.assign import UNKNOWN_TYPE_RANK, assign_zones
from cosmospark.hierarchy import type_rank_col

# ---------------------------------------------------------------------------
# Planet-safety (VERDICT r3 #1): a zone is rasterized by HIERARCHICAL
# DESCENT — classify cells FULL/EMPTY/BOUNDARY starting at a coarse
# resolution and subdivide only BOUNDARY cells — so per-zone work is
# O(perimeter · 4) cell tests + pixel kernels on boundary cells only,
# never O(bbox area). Interior cells emit closed-form all-ones masks
# with zero pixel tests; exterior bbox cells are skipped outright.
# Every pixel-kernel call is additionally capped at MAX_PIXELS pixel
# tests, and FULL-interior cells are expanded LAZILY in ≤ MAX_PIXELS/px²
# chunks (``_iter_full`` — the descent holds coarse cells only,
# O(perimeter)), so one continent-sized zone can neither allocate
# multi-GB temporaries nor become a single straggler kernel call.

_START_CELLS = 1024  # descend from the coarsest level whose bbox cover fits this


def _default_max_pixels() -> int:
    return int(os.environ.get("COSMOSPARK_RASTER_MAX_PIXELS", str(1 << 20)))


# ---------------------------------------------------------------------------
# The two grids. Each keeps its own floating-point expressions (the SQL
# oracles reproduce them bit for bit).

# morton-order permutation for an 8×8 pixel block: bit index
# interleave(colbits, rowbits) ← row-major index row*8+col, so a point's
# pixel bit is just (fine_morton_cell & 63) — no deinterleave in the join
_col, _row = cells.morton_deinterleave(np.arange(64, dtype=np.int64), 3)
_MORTON8 = _row * 8 + _col

MERCATOR_MAX_LAT = 85.05112878


def _quad_lat(t: np.ndarray, n: float) -> np.ndarray:
    return -90.0 + t * 180.0 / n


def _quad_pixel_rect(i, j, n: float, lon, lat):
    """Pixel rect as centre ± half a pixel."""
    w = 360.0 / n
    h = 180.0 / n
    minx = lon - 0.5 * w
    miny = lat - 0.5 * h
    return minx, miny, minx + w, miny + h


def _quad_encode(points: DataFrame, lon_col: str, lat_col: str, res: int):
    """Pure-JVM Morton encode at res+3: the res-cell is the top bits, the
    morton pixel the low 6."""
    fine = cells.col_cell_encode(F.col(lon_col), F.col(lat_col), res + 3)
    return points.withColumn("_cell", F.shiftright(fine, 6)).withColumn(
        "_pix", fine.bitwiseAND(F.lit(63)).cast("int")
    )


def _inv_mercator(yf: np.ndarray) -> np.ndarray:
    """Fractional mercator y → latitude. sinh is spelled out as
    (exp(t) - exp(-t)) / 2 so the DuckDB oracle (no sinh built-in in
    this environment) evaluates the IDENTICAL expression tree."""
    t = np.pi * (1.0 - 2.0 * yf)
    return np.degrees(np.arctan((np.exp(t) - np.exp(-t)) / 2.0))


def _merc_cell_rect(tx: np.ndarray, ty: np.ndarray, z: int):
    """y grows southward, so miny comes from ty+1."""
    n = float(1 << z)
    minx = -180.0 + tx * 360.0 / n
    maxx = -180.0 + (tx + 1) * 360.0 / n
    return minx, _inv_mercator((ty + 1) / n), maxx, _inv_mercator(ty / n)


def _merc_lat(t: np.ndarray, n: float) -> np.ndarray:
    return _inv_mercator(t / n)


def _merc_pixel_rect(i, j, n: float, lon, lat):
    """lon linear; pixel row j spans [inv((j+1)/n), inv(j/n)]."""
    minx = -180.0 + i * 360.0 / n
    return minx, _inv_mercator((j + 1) / n), minx + 360.0 / n, _inv_mercator(j / n)


def _merc_key(tx: np.ndarray, ty: np.ndarray, z: int) -> np.ndarray:
    return (np.int64(z) << 58) | (tx << 29) | ty


def _merc_encode(points: DataFrame, lon_col: str, lat_col: str, z: int):
    """ONE narrow Arrow pass computes the zoom-z tile and the row-major
    8×8 sub-tile pixel from one tile_xy(z+3) evaluation — the only
    Python on the fact path, and it rides the same pass that
    tile-encodes facts anyway."""
    out_schema = T.StructType(
        points.schema.fields
        + [T.StructField("_cell", T.LongType()), T.StructField("_pix", T.IntegerType())]
    )
    key_hi = z << 58

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            x3, y3 = cells.tile_xy(lon, lat, z + 3)
            pdf["_cell"] = key_hi | ((x3 >> 3) << 29) | (y3 >> 3)
            pdf["_pix"] = ((y3 & 7) * 8 + (x3 & 7)).astype(np.int32)
            yield pdf

    return points.mapInPandas(_enc, out_schema)


class _Grid(NamedTuple):
    """What one grid is: every function takes ``(x, y)`` index arrays
    of cells at a ``level`` (quadkey res or mercator zoom)."""

    xy: Callable  # (lon, lat, level) -> clamped cell (x, y) indices
    cell_rect: Callable  # (x, y, level) -> (minx, miny, maxx, maxy)
    lat: Callable  # (t, n) -> latitude of fractional lattice row t of n
    pixel_rect: Callable  # (*_pixel_lattice) -> (minx, miny, maxx, maxy)
    key: Callable  # (x, y, level) -> packed int64 cell key
    bit_order: np.ndarray  # LUT pixel bit b <- row-major pixel bit_order[b]
    encode: Callable  # (points, lon_col, lat_col, level) -> + _cell, _pix
    max_lat: float  # points beyond ±max_lat clamp into an edge pixel
    meta_key: str  # LUT zone_arr metadata key stamped with the level


_QUADKEY = _Grid(
    cells._grid_xy, cells.grid_bounds, _quad_lat, _quad_pixel_rect,
    cells.morton_interleave, _MORTON8, _quad_encode, 90.0, "lut_res",
)
# pixels are the 8×8 sub-tiles at zoom z+3, indexed ROW-MAJOR within
# the tile ((y3 & 7) * 8 + (x3 & 7)); rows run north → south
_MERCATOR = _Grid(
    cells.tile_xy, _merc_cell_rect, _merc_lat, _merc_pixel_rect,
    _merc_key, np.arange(64, dtype=np.int64), _merc_encode,
    MERCATOR_MAX_LAT, "lut_z",
)
_GRIDS = {"cells": _QUADKEY, "tiles": _MERCATOR}


# ---------------------------------------------------------------------------
# Cover: descent and FULL expansion


def _span(grid: _Grid, bb, level: int):
    """bbox → inclusive (x0, x1, y0, y1) cell span at ``level`` (on the
    mercator pyramid y grows southward, so the max corner has the min y)."""
    x, y = grid.xy(np.array([bb[0], bb[2]]), np.array([bb[1], bb[3]]), level)
    return x[0], x[1], min(y), max(y)


def _bbox_cell_count(grid: _Grid, bb, level: int) -> int:
    x0, x1, y0, y1 = _span(grid, bb, level)
    return int((x1 - x0 + 1) * (y1 - y0 + 1))


def _descend(
    grid: _Grid, rr, level: int, stats: dict | None = None
) -> tuple[list[tuple[np.ndarray, np.ndarray, int]], np.ndarray, np.ndarray]:
    """Coarse→fine descent → (full cells as ``(x, y, level)`` groups by
    the level they were PROVEN at, boundary x, boundary y at ``level``).
    FULL cells are entirely inside the zone (every pixel of every
    descendant is inside — no kernel needed); BOUNDARY cells may meet
    the zone's edge and need per-pixel tests; everything else provably
    misses the zone. Classification is ``geom.rects_classify`` (sound
    for FULL/EMPTY, conservative for BOUNDARY); children are the 2×2
    subdivision. Memory here is O(boundary frontier) —
    perimeter-proportional; interior FULL cells stay UNEXPANDED (a
    continent proven FULL at res 4 is one entry, not 4^(res-4))."""
    bb = geom.bbox(rr)
    lv = level
    while lv > 1 and _bbox_cell_count(grid, bb, lv) > _START_CELLS:
        lv -= 1
    x0, x1, y0, y1 = _span(grid, bb, lv)
    gx, gy = np.meshgrid(
        np.arange(x0, x1 + 1, dtype=np.int64),
        np.arange(y0, y1 + 1, dtype=np.int64),
        indexing="ij",
    )
    x, y = gx.ravel(), gy.ravel()
    full_groups: list[tuple[np.ndarray, np.ndarray, int]] = []
    while True:
        cls = geom.rects_classify(*grid.cell_rect(x, y, lv), rr)
        if stats is not None:
            stats["classify_calls"] = stats.get("classify_calls", 0) + 1
            stats["cells_classified"] = stats.get("cells_classified", 0) + len(x)
        if (cls == 1).any():
            full_groups.append((x[cls == 1], y[cls == 1], lv))
        x, y = x[cls == 2], y[cls == 2]
        if lv == level or not len(x):
            return full_groups, x, y
        x = ((x[:, None] << 1) + [0, 0, 1, 1]).ravel()  # 2×2 children
        y = ((y[:, None] << 1) + [0, 1, 0, 1]).ravel()
        lv += 1


def _iter_full(
    full_groups: list[tuple[np.ndarray, np.ndarray, int]], level: int, step: int
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Expand coarse FULL cells to level-``level`` ``(x, y)`` chunks of
    ≤ ``step`` cells, lazily (ADVICE r4: never materialize the whole
    interior — a continent-sized zone at fine res has O(area)
    descendants)."""
    for fx, fy, lv in full_groups:
        k = level - lv
        side = 1 << k
        per = side * side
        # walk the group's descendant index range (coarse cell c, its
        # side×side sub-cell d) in step-sized windows
        total = len(fx) * per
        for s in range(0, total, step):
            idx = np.arange(s, min(total, s + step), dtype=np.int64)
            c, d = idx // per, idx % per
            yield (fx[c] << k) + d // side, (fy[c] << k) + d % side


def _raster_cover(grid: _Grid, rr, level: int, stats: dict | None = None):
    """→ (full_x, full_y, bnd_x, bnd_y) at ``level`` for one zone. Eager
    convenience wrapper over ``_descend`` — materializes the FULL
    interior, so peak memory is O(interior area in cells); bounded at
    the levels used in tests/oracles (≤ 9), but the streaming consumers
    (the rasterizers/LUT builders) go through ``_zone_chunks`` and never
    hold the full interior."""
    full_groups, bx, by = _descend(grid, rr, level, stats)
    parts = list(_iter_full(full_groups, level, 1 << 20))
    none = [np.empty(0, dtype=np.int64)]
    fx = np.concatenate(none + [x for x, _ in parts])
    fy = np.concatenate(none + [y for _, y in parts])
    return fx, fy, bx, by


def zone_raster_cover(
    rr, res: int, stats: dict | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """→ (full_cells, boundary_cells) at ``res`` on the quadkey grid
    (``_raster_cover``)."""
    fx, fy, bx, by = _raster_cover(_QUADKEY, rr, res, stats)
    return cells.morton_interleave(fx, fy, res), cells.morton_interleave(bx, by, res)


def tile_raster_cover(
    rr, z: int, stats: dict | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """→ (full_tx, full_ty, bnd_tx, bnd_ty) at zoom ``z`` on the mercator
    pyramid (``_raster_cover``)."""
    return _raster_cover(_MERCATOR, rr, z, stats)


# ---------------------------------------------------------------------------
# Pixel lattice and per-zone rows


def _pixel_lattice(grid: _Grid, x: np.ndarray, y: np.ndarray, level: int, px: int):
    """The px×px pixels of each level-cell on the (2^level·px)² lattice
    → (i, j, n, lon, lat): per cell the px column and px row indices,
    the lattice size, and the pixel-centre lon of each column and lat of
    each row. Same +,*,/ arithmetic order as the SQL oracles
    (bit-for-bit): lon = -180 + (i + 0.5) * 360 / n."""
    n = float((1 << level) * px)
    off = np.arange(px, dtype=np.float64)
    i = x[:, None] * px + off[None, :]
    j = y[:, None] * px + off[None, :]
    return i, j, n, -180.0 + (i + 0.5) * 360.0 / n, grid.lat(j + 0.5, n)


def _grid2d(cols: np.ndarray, rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-cell column values and row values, each (ncells, px) → two
    (ncells, px, px) row-major grids (row = next lattice row)."""
    px = cols.shape[1]
    return (
        np.repeat(cols[:, None, :], px, axis=1),
        np.repeat(rows[:, :, None], px, axis=2),
    )


def _pixel_centers(grid: _Grid, x: np.ndarray, y: np.ndarray, level: int, px: int):
    """Pixel-centre grids for level-cells: (ncells, px, px) lon/lat."""
    *_, lon, lat = _pixel_lattice(grid, x, y, level, px)
    return _grid2d(lon, lat)


def _zone_chunks(
    grid: _Grid, rr, level: int, px: int, max_pixels: int, stats: dict | None = None
) -> Iterator[tuple[np.ndarray, tuple | None]]:
    """One zone → ``(keys, lattice)`` chunks of ≤ max_pixels/px² cells,
    planet-safe: FULL cells come with ``lattice=None`` (every pixel is
    inside, no kernel needed), BOUNDARY cells with their
    ``_pixel_lattice`` for the pixel kernels."""
    full_groups, bx, by = _descend(grid, rr, level, stats)
    step = max(1, max_pixels // (px * px))
    for x, y in _iter_full(full_groups, level, step):
        yield grid.key(x, y, level), None
    for s in range(0, len(bx), step):
        if stats is not None:
            stats["kernel_calls"] = stats.get("kernel_calls", 0) + 1
        x, y = bx[s : s + step], by[s : s + step]
        yield grid.key(x, y, level), _pixel_lattice(grid, x, y, level, px)


_RASTER_SCHEMA = T.StructType(
    [
        T.StructField("zone_id", T.LongType()),
        T.StructField("cell", T.LongType()),
        T.StructField("mask", T.BinaryType()),
        T.StructField("n_inside", T.LongType()),
    ]
)


def _mask_rows(zid, rr, lon_c, lat_c, keys):
    """PIP every pixel center (ncells, px, px) in ONE kernel call and
    pack per-cell bitmasks; emit only cells with coverage."""
    ncells, px, _ = lon_c.shape
    hit = geom.pip_covers(lon_c.ravel(), lat_c.ravel(), rr).reshape(ncells, px, px)
    n_in = hit.sum(axis=(1, 2))
    rows = []
    for ci in np.nonzero(n_in)[0]:
        rows.append(
            {
                "zone_id": int(zid),
                "cell": int(keys[ci]),
                "mask": np.packbits(hit[ci].ravel()).tobytes(),
                "n_inside": int(n_in[ci]),
            }
        )
    return rows


def _zone_mask_row_batches(
    grid: _Grid, zid, rr, level: int, px: int, max_pixels: int,
    stats: dict | None = None,
) -> Iterator[list[dict]]:
    """One zone → row batches for ``_RASTER_SCHEMA``: closed-form
    all-ones masks for FULL cells, pixel kernels only on BOUNDARY
    cells."""
    ones = np.packbits(np.ones(px * px, dtype=bool)).tobytes()
    for keys, lattice in _zone_chunks(grid, rr, level, px, max_pixels, stats):
        if lattice is None:
            yield [
                {"zone_id": int(zid), "cell": int(c), "mask": ones, "n_inside": px * px}
                for c in keys
            ]
        else:
            yield _mask_rows(zid, rr, *_grid2d(*lattice[3:]), keys)


_BITSET_SCHEMA = T.StructType(
    [
        T.StructField("zone_id", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("cell", T.LongType()),
        T.StructField("mask_bits", T.LongType()),
        T.StructField("full_bits", T.LongType()),
        T.StructField("touch_bits", T.LongType()),
    ]
)


def _zone_bitset_row_batches(
    grid: _Grid, zid, rk, area, rr, level: int, max_pixels: int,
    stats: dict | None = None,
) -> Iterator[list[dict]]:
    """One zone → bitset row batches. FULL cells emit closed-form
    all-ones rows (mask = full = touch = -1): every pixel rect of a
    fully-covered cell is itself fully covered, no kernel needed.
    BOUNDARY cells run two kernels per chunk — center PIP and pixel-rect
    edge contact — from which full (center-in ∧ no-edge-touch, the
    rects_fully_covered lemma) and touch (center-in ∨ edge-touch: a
    superset of any real pixel/zone contact, and EMPTY-sound) derive
    directly. touch_bits is tighter than the r3 build (polygon contact,
    not zone-bbox overlap), which shrinks the exact-mode boundary
    sentinel set to the true perimeter without weakening the stability
    proof in ``zone_pixel_lut``. Bit b of each bitset is the row-major
    pixel ``grid.bit_order[b]``."""
    pow2 = np.int64(1) << np.arange(64, dtype=np.int64)
    order = grid.bit_order
    base = {"zone_id": int(zid), "rank": int(rk), "area": float(area)}
    for keys, lattice in _zone_chunks(grid, rr, level, 8, max_pixels, stats):
        if lattice is None:
            yield [
                dict(base, cell=int(c), mask_bits=-1, full_bits=-1, touch_bits=-1)
                for c in keys
            ]
            continue
        nc = len(keys)
        lon_c, lat_c = _grid2d(*lattice[3:])
        hit = geom.pip_covers(lon_c.ravel(), lat_c.ravel(), rr).reshape(nc, 64)
        x0, y0, x1, y1 = grid.pixel_rect(*lattice)
        (minx, miny), (maxx, maxy) = _grid2d(x0, y0), _grid2d(x1, y1)
        ehit = geom._rect_edge_hits(
            minx.ravel(), miny.ravel(), maxx.ravel(), maxy.ravel(), rr
        ).reshape(nc, 64)
        bits = (hit[:, order] * pow2[None, :]).sum(axis=1)
        fbits = ((hit & ~ehit)[:, order] * pow2[None, :]).sum(axis=1)
        tbits = ((hit | ehit)[:, order] * pow2[None, :]).sum(axis=1)
        yield [
            dict(
                base,
                cell=int(keys[ci]),
                mask_bits=int(bits[ci]),
                full_bits=int(fbits[ci]),
                touch_bits=int(tbits[ci]),
            )
            for ci in np.nonzero(bits | tbits)[0]
        ]


def _map_zones(
    zones: DataFrame, schema: T.StructType, zone_rows: Callable
) -> DataFrame:
    """The one mapInPandas over the zone table: ``zone_rows(zid, rank,
    rings)`` turns one zone into row batches, buffered into frames of
    about 65,536 rows, so output streams out of the iterator and peak
    executor memory stays bounded even for a zone covering 10^5+ cells.
    A ``rank`` column in ``schema`` selects the zone_type rank
    (``assign.UNKNOWN_TYPE_RANK`` for an unknown type)."""
    cols = schema.names
    sel = [F.col("id").alias("zone_id"), "rings"]
    if "rank" in cols:
        rank = F.coalesce(type_rank_col(F.col("zone_type")), F.lit(UNKNOWN_TYPE_RANK))
        sel.append(rank.cast("int").alias("rank"))

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            buf: list[dict] = []
            ranks = pdf["rank"] if "rank" in pdf else [None] * len(pdf)
            for zid, rk, rrows in zip(pdf["zone_id"], ranks, pdf["rings"]):
                if rrows is None or len(rrows) == 0:
                    continue
                for rows in zone_rows(zid, rk, geom.rows_to_rings(rrows)):
                    buf.extend(rows)
                    if len(buf) >= 65536:
                        yield pd.DataFrame(buf, columns=cols)
                        buf = []
            yield pd.DataFrame(buf, columns=cols)

    return zones.select(*sel).mapInPandas(_run, schema)


def _rasterize_masks(grid: _Grid, zones: DataFrame, level: int, px: int) -> DataFrame:
    max_pixels = _default_max_pixels()
    return _map_zones(
        zones,
        _RASTER_SCHEMA,
        lambda zid, _rk, rr: _zone_mask_row_batches(grid, zid, rr, level, px, max_pixels),
    )


def _rasterize_bitsets(grid: _Grid, zones: DataFrame, level: int) -> DataFrame:
    max_pixels = _default_max_pixels()
    return _map_zones(
        zones,
        _BITSET_SCHEMA,
        lambda zid, rk, rr: _zone_bitset_row_batches(
            grid, zid, rk, geom.area(rr), rr, level, max_pixels
        ),
    )


def rasterize_zones_cells(
    zones: DataFrame, res: int, px: int = 8
) -> DataFrame:
    """Vector → raster on the linear quadkey grid: for every zone and
    every res-cell it covers or touches, a ``px``×``px`` occupancy
    bitmask of pixel centers (row-major, ``np.packbits`` layout) plus
    the inside-pixel count.

    Pixel centers are the centers of the uniform sub-lattice
    ``lon = -180 + (i + 0.5) * 360 / (2^res * px)`` (same for lat over
    180°) — pure +,*,/ arithmetic, so an SQL oracle reproduces them
    bit-for-bit. Planet-safe via hierarchical descent + bounded kernel
    chunks (see module header)."""
    return _rasterize_masks(_QUADKEY, zones, res, px)


def rasterize_zones_tiles(zones: DataFrame, z: int, px: int = 64) -> DataFrame:
    """Vector → raster on the web-mercator z/x/y tile pyramid (the
    ``tile_encode`` packing): per covering tile, a ``px``×``px`` pixel
    occupancy mask. Pixel x is linear in lon; pixel y inverts the
    mercator projection. Planet-safe like the quadkey variant; mask
    rows are north→south (row b = b-th pixel DOWN from the tile's top
    edge)."""
    return _rasterize_masks(_MERCATOR, zones, z, px).withColumnRenamed(
        "cell", "tile_id"
    )


def rasterize_zone_bitsets(zones: DataFrame, res: int) -> DataFrame:
    """Vector → raster with a JOINABLE encoding: per (zone, res-cell)
    int64 bitsets of the cell's 8×8 pixels in MORTON pixel order, plus
    the zone's (rank, area) argmin keys. A point's pixel bit is the low
    6 bits of its res+3 Morton cell — see ``assign_zones_raster``.

    Three bitsets per row:
      * ``mask_bits``  — pixel CENTER inside the zone (the approximate
        LUT signal);
      * ``full_bits``  — pixel RECT entirely covered by the zone
        (conservative, via ``geom.rects_fully_covered``);
      * ``touch_bits`` — pixel rect may touch the zone (a superset of
        any real contact).
    ``full``/``touch`` power the EXACT mode: a pixel whose every
    touching zone fully covers it has the same winner for every
    interior point, so only boundary pixels need the exact kernel."""
    return _rasterize_bitsets(_QUADKEY, zones, res)


def rasterize_zone_bitsets_tiles(zones: DataFrame, z: int) -> DataFrame:
    """Per (zone, z/x/y tile) 64-pixel bitsets on the mercator pyramid —
    the joinable encoding behind ``tile_pixel_lut``; the pixel bit is
    ROW-MAJOR (y3&7)*8 + (x3&7), because the fact side computes (x3,
    y3) directly from tile_xy at z+3."""
    return _rasterize_bitsets(_MERCATOR, zones, z)


def unpack_mask(mask: bytes, px: int) -> np.ndarray:
    """packed mask bytes → (px, px) bool array (row-major)."""
    return np.unpackbits(np.frombuffer(mask, dtype=np.uint8))[: px * px].reshape(
        px, px
    ).astype(bool)


def mask_to_boxes(mask: bytes, px: int) -> np.ndarray:
    """Raster → vector: greedy rectangle decomposition of a mask.
    Row-RLE runs merged across consecutive rows with identical spans.
    Returns (m, 4) int boxes ``(row0, col0, row1, col1)`` (end
    exclusive) whose disjoint union is exactly the set pixels — the
    round-trip invariant ``boxes → raster == mask`` is tested."""
    m = unpack_mask(mask, px)
    open_runs: dict[tuple[int, int], int] = {}  # (col0, col1) -> row0
    boxes: list[tuple[int, int, int, int]] = []
    for r in range(px + 1):
        if r < px:
            d = np.diff(np.concatenate(([0], m[r].astype(np.int8), [0])))
            starts = np.nonzero(d == 1)[0]
            ends = np.nonzero(d == -1)[0]
            runs = set(zip(starts.tolist(), ends.tolist()))
        else:
            runs = set()
        for span, row0 in list(open_runs.items()):
            if span not in runs:
                boxes.append((row0, span[0], r, span[1]))
                del open_runs[span]
        for span in runs:
            if span not in open_runs:
                open_runs[span] = r
    return np.array(boxes, dtype=np.int64).reshape(-1, 4)


def boxes_to_mask(boxes: np.ndarray, px: int) -> np.ndarray:
    """Inverse of ``mask_to_boxes`` (for the round-trip check)."""
    m = np.zeros((px, px), dtype=bool)
    for r0, c0, r1, c1 in boxes:
        m[r0:r1, c0:c1] = True
    return m


# ---------------------------------------------------------------------------
# Pixel LUT


def _fold_pixel_lut(
    rast: DataFrame, exact: bool, extra_meta: dict | None = None
) -> DataFrame:
    """LUT fold over a (zone_id, rank, area, cell, mask_bits, full_bits,
    touch_bits) bitset table — see ``zone_pixel_lut`` for the
    semantics. ``extra_meta`` is stamped alongside the build mode (grid
    res/zoom, validated at assignment time)."""
    sel = "mask_bits" if not exact else "touch_bits"
    per_pix = (
        rast.select(
            "zone_id", "rank", "area", "cell",
            "mask_bits", "full_bits", "touch_bits",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("pix"),
        )
        .filter(F.expr(f"(shiftright({sel}, cast(pix as int)) & 1) = 1"))
        .withColumn(
            "is_full", F.expr("(shiftright(full_bits, cast(pix as int)) & 1) = 1")
        )
        .drop("mask_bits", "full_bits", "touch_bits")
        .groupBy("cell", "pix")
        .agg(
            F.min_by(
                "zone_id", F.struct(F.col("rank"), F.col("area"), F.col("zone_id"))
            ).alias("zone_id"),
            F.min(F.col("is_full").cast("int")).alias("all_full"),
        )
    )
    if exact:
        per_pix = per_pix.withColumn(
            "zone_id",
            F.when(F.col("all_full") == 1, F.col("zone_id")).otherwise(F.lit(-2)),
        )
    return (
        per_pix.groupBy("cell")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("pix", "zone_id"))
            ).alias("_m")
        )
        .select(
            "cell",
            # build mode stamped as column metadata: survives parquet
            # round-trips of persisted LUTs, costs zero bytes per row,
            # and lets assign_zones_raster reject a LUT whose build mode
            # disagrees with its `exact` flag (ADVICE r3)
            F.expr("transform(sequence(0, 63), i -> coalesce(_m[i], -1L))").alias(
                "zone_arr", metadata={"lut_exact": bool(exact), **(extra_meta or {})}
            ),
        )
    )


def _pixel_lut(grid: _Grid, zones: DataFrame, level: int, exact: bool) -> DataFrame:
    return _fold_pixel_lut(
        _rasterize_bitsets(grid, zones, level), exact, {grid.meta_key: level}
    )


def zone_pixel_lut(zones: DataFrame, res: int, exact: bool = False) -> DataFrame:
    """Fold the rasterized zone dim into a per-cell PIXEL LOOKUP TABLE:
    ``(cell, zone_arr)`` where ``zone_arr[pix]`` is the winning zone
    (by the (rank, area, id) argmin, same tie-break as exact
    assignment) of morton-pixel ``pix``, or -1. All aggregation happens
    on the zone-dim side — at fact-join time there is nothing left to
    resolve. Corpus-independent: build once, persist bucketed by
    ``cell``, reuse for every fact table.

    ``exact=True`` builds the STABILITY-aware LUT: a pixel is stable
    iff every zone whose bbox touches the pixel rect fully covers it —
    then every interior point of the pixel has the same winner, so the
    LUT answer is EXACT. Unstable (boundary) pixels get sentinel -2 and
    are refined by the exact kernel in ``assign_zones_raster``; pixels
    no zone touches stay -1 (exactly unassigned)."""
    return _pixel_lut(_QUADKEY, zones, res, exact)


def tile_pixel_lut(zones: DataFrame, z: int, exact: bool = False) -> DataFrame:
    """``zone_pixel_lut`` on the mercator tile pyramid: (tile_id,
    zone_arr[64]) with the same argmin/stability semantics and build-mode
    metadata. Column stays named ``cell`` (it carries the packed tile
    id) so ``_fold_pixel_lut``/persistence tooling is shared."""
    return _pixel_lut(_MERCATOR, zones, z, exact)


# ---------------------------------------------------------------------------
# Raster assign


def _check_lut_mode(lut, exact, fn_name, grid_key, grid_val):
    """Validate a caller-supplied LUT's build metadata against the
    assignment's flags: build mode (an exact-built LUT under exact=False
    would leak the -2 boundary sentinel as a zone_id; a center-only LUT
    under exact=True would skip refinement while claiming exactness)
    AND the grid res/zoom (mismatched keys silently join to nothing —
    every point would resolve -1). Returns the declared build mode
    (None = unverifiable legacy LUT)."""
    md = lut.schema["zone_arr"].metadata or {}
    declared = md.get("lut_exact")
    if declared is None:
        if exact:
            raise ValueError(
                f"{fn_name}(exact=True) needs a LUT built with exact=True; "
                "the supplied LUT carries no lut_exact build-mode metadata"
            )
    elif bool(declared) != exact:
        raise ValueError(
            f"LUT build mode lut_exact={bool(declared)} disagrees with "
            f"exact={exact}; rebuild the LUT or flip the flag"
        )
    built = md.get(grid_key)
    if built is not None and int(built) != int(grid_val):
        raise ValueError(
            f"LUT was built at {grid_key}={int(built)} but the assignment "
            f"asked for {int(grid_val)}: the cell keys cannot match and "
            "every point would silently resolve to -1"
        )
    return declared


def _finish_raster_assign(
    out: DataFrame,
    zones: DataFrame | None,
    exact: bool,
    declared,
    out_of_domain,
    lon_col: str,
    lat_col: str,
    id_col: str,
    strategy: str,
    broadcast_budget_bytes: int | None,
) -> DataFrame:
    """Tail of the raster assign: sentinel hygiene for unverifiable
    LUTs; in exact mode, route boundary pixels AND points beyond the
    grid's projection domain (whose clamped edge pixel may be stable but
    wrong for them) through the exact kernel, honoring the caller's
    strategy/budget (ADVICE r3)."""
    if not exact:
        if declared is None:
            # unverifiable hand-built LUT: never leak the -2 boundary
            # sentinel to callers as a zone id
            out = out.withColumn(
                "zone_id",
                F.when(F.col("zone_id") == -2, F.lit(-1)).otherwise(
                    F.col("zone_id")
                ),
            )
        return out
    if out_of_domain is not None:
        out = out.withColumn(
            "zone_id",
            F.when(out_of_domain, F.lit(-2)).otherwise(F.col("zone_id")),
        )
    resolved = out.filter(F.col("zone_id") != -2)
    boundary = out.filter(F.col("zone_id") == -2).drop("zone_id")
    kw = {}
    if broadcast_budget_bytes is not None:
        kw["broadcast_budget_bytes"] = broadcast_budget_bytes
    refined = assign_zones(
        boundary,
        zones,
        lon_col=lon_col,
        lat_col=lat_col,
        strategy=strategy,
        id_col=id_col,
        **kw,
    )
    return resolved.unionByName(refined)


def _assign_raster(
    grid: _Grid,
    fn_name: str,
    points: DataFrame,
    zones: DataFrame | None,
    level: int,
    lon_col: str,
    lat_col: str,
    id_col: str,
    lut: DataFrame | None,
    exact: bool,
    strategy: str,
    broadcast_budget_bytes: int | None,
    n_salt: int | None,
) -> DataFrame:
    """Raster assign on one grid: fact-side encode to (cell, pixel), ONE
    equi-join on the cell against the pixel LUT, ``element_at`` on the
    pixel — then ``_finish_raster_assign``."""
    declared: bool | None = exact
    if zones is None and (lut is None or exact):
        raise ValueError(
            "zones may be None only with a prebuilt non-exact LUT (the "
            "streaming stream-static shape); exact mode needs the zone "
            "geometry for boundary refinement"
        )
    if lut is None:
        lut = _pixel_lut(grid, zones, level, exact)
    else:
        declared = _check_lut_mode(lut, exact, fn_name, grid.meta_key, level)
    enc = grid.encode(points, lon_col, lat_col, level)
    lut_keyed = lut.withColumnRenamed("cell", "_cell")
    join_keys = ["_cell"]
    if n_salt and n_salt > 1:
        # LUT-side SALTING for the shuffle-join shape (VERDICT r4 #5):
        # when the LUT is too big to broadcast (planet at fine res) the
        # join shuffles BOTH sides on the cell key, and a megacity cell
        # holding a large fraction of the facts lands in one partition.
        # Replicating each LUT row across n_salt sub-keys (zone-dim
        # scale — cheap) and hashing the fact id into a sub-key spreads
        # any hot cell over n_salt partitions deterministically. AQE's
        # skew-join split is the zero-config alternative (see
        # test_raster.py::test_skewed_lut_shuffle_join_aqe_split); salt
        # is the belt-and-braces form that also covers shuffled-hash
        # joins and pre-AQE engines.
        lut_keyed = lut_keyed.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
        )
        enc = enc.withColumn(
            "_salt", F.pmod(F.hash(F.col(id_col)), F.lit(n_salt))
        )
        join_keys = ["_cell", "_salt"]
    out = (
        enc.join(lut_keyed, join_keys, "left")
        .withColumn(
            "zone_id",
            F.coalesce(F.expr("element_at(zone_arr, _pix + 1)"), F.lit(-1)).cast(
                "long"
            ),
        )
        .drop("_cell", "_pix", "zone_arr", "_salt")
    )
    # invalid coordinates clamp into edge cells (tile_xy also clamps
    # latitude to the mercator domain): exact mode must not let a stable
    # edge pixel answer for them — such points go to the exact kernel,
    # which tests the real coordinates against the real geometry
    oob = (
        (F.col(lat_col) > grid.max_lat)
        | (F.col(lat_col) < -grid.max_lat)
        | (F.col(lon_col) > 180.0)
        | (F.col(lon_col) < -180.0)
    )
    return _finish_raster_assign(
        out, zones, exact, declared, oob,
        lon_col, lat_col, id_col, strategy, broadcast_budget_bytes,
    )


def assign_zones_raster(
    points: DataFrame,
    zones: DataFrame | None,
    res: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "pid",
    lut: DataFrame | None = None,
    exact: bool = False,
    strategy: str = "auto",
    broadcast_budget_bytes: int | None = None,
    n_salt: int | None = None,
) -> DataFrame:
    """PIXEL-APPROXIMATE zone assignment with ZERO Python and ZERO
    shuffle on the fact path: the zone dim folds into a per-cell pixel
    LUT (``zone_pixel_lut`` — rank/area argmin pre-resolved zone-side),
    then the 10^12-row side is Morton encode at res+3, ONE equi-join on
    the res-cell, and an ``element_at`` — all whole-stage codegen. Each
    point gets the zone of its containing pixel's CENTER (half-pixel
    boundary error: 360°/(2^res·8) per axis); the exact paths are
    ``assign_zones(strategy='broadcast'|'partitioned')``.

    Pass a persisted ``lut`` to amortize the rasterization across fact
    tables; at planet scale store it bucketed by ``cell`` so the join
    co-locates with cell-partitioned facts.

    ``exact=True`` makes the result EXACTLY equal to
    ``assign_zones(strategy='broadcast')``: the LUT (built with
    stability marking) answers every point in a stable pixel directly,
    and only points in boundary pixels (sentinel -2 — a
    perimeter-scale fraction at fine ``res``) run the exact PIP kernel
    via the fallback strategy."""
    return _assign_raster(
        _QUADKEY, "assign_zones_raster", points, zones, res, lon_col, lat_col,
        id_col, lut, exact, strategy, broadcast_budget_bytes, n_salt,
    )


def assign_zones_tiles_raster(
    points: DataFrame,
    zones: DataFrame | None,
    z: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "pid",
    lut: DataFrame | None = None,
    exact: bool = False,
    strategy: str = "auto",
    broadcast_budget_bytes: int | None = None,
) -> DataFrame:
    """Tile-pyramid raster assignment: ONE narrow Arrow pass computes
    the zoom-z tile and the 8×8 sub-tile pixel index (tile_xy at z+3),
    then an equi-join on the tile id + an ``element_at`` resolves the
    zone. ``exact=True`` refines boundary pixels exactly as
    ``assign_zones_raster`` does."""
    return _assign_raster(
        _MERCATOR, "assign_zones_tiles_raster", points, zones, z, lon_col,
        lat_col, id_col, lut, exact, strategy, broadcast_budget_bytes, None,
    )


# ---------------------------------------------------------------------------
# Incremental LUT maintenance: at planet scale the zone dim is a living
# table (boundary edits land daily), and rebuilding a full pixel LUT for
# one changed zone re-rasterizes 10^6 zones for nothing. The persisted
# BITSET table (rasterize_zone_bitsets output, bucketed by cell) is the
# maintenance state: an edit replaces one zone's rows and re-folds ONLY
# the cells that zone touches (old footprint ∪ new footprint) — work
# proportional to the edit, not the planet.


def incremental_lut_update(
    bitsets: DataFrame,
    changed_zones: DataFrame | None,
    removed_zone_ids: list[int],
    res: int,
    exact: bool = False,
    grid: str = "cells",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Apply a zone-dim edit to a persisted bitset table.

    ``changed_zones``: zones added or modified (full new rows, reference
    zone schema); ``removed_zone_ids``: ids to drop (a modified zone's
    id may appear in both — its old rows are replaced either way).
    ``grid``: ``"cells"`` (quadkey, ``res`` is the cell resolution) or
    ``"tiles"`` (mercator pyramid, ``res`` is the zoom) — the edit
    algebra is grid-agnostic because both LUTs key on one packed
    64-bit ``cell`` column.

    Returns ``(new_bitsets, affected_cells, lut_patch)``:
      * ``new_bitsets``  — the updated maintenance table;
      * ``affected_cells`` — the (cell,) keys whose LUT rows are stale
        (old ∪ new footprint of every touched zone);
      * ``lut_patch``    — re-folded LUT rows for exactly those cells
        (a cell whose coverage vanished is absent: delete it).
    Apply with ``apply_lut_patch``. Every step is a key join on
    cell/zone_id — bucketed storage keeps them co-located."""
    if grid not in _GRIDS:
        raise ValueError(f"unknown grid {grid!r} (expected 'cells' or 'tiles')")
    g = _GRIDS[grid]
    changed_new = (
        None if changed_zones is None else _rasterize_bitsets(g, changed_zones, res)
    )
    touched_ids = list(removed_zone_ids)
    if changed_zones is not None:
        touched_ids += [
            int(r["id"]) for r in changed_zones.select("id").distinct().collect()
        ]
    old_rows = bitsets.filter(F.col("zone_id").isin(touched_ids))
    kept = bitsets.filter(~F.col("zone_id").isin(touched_ids))
    new_bitsets = (
        kept.unionByName(changed_new) if changed_new is not None else kept
    )
    affected = old_rows.select("cell")
    if changed_new is not None:
        affected = affected.unionByName(changed_new.select("cell"))
    affected_cells = affected.distinct().localCheckpoint(eager=True)
    lut_patch = _fold_pixel_lut(
        new_bitsets.join(affected_cells, "cell", "left_semi"),
        exact,
        {g.meta_key: res},
    )
    return new_bitsets, affected_cells, lut_patch


def apply_lut_patch(
    lut: DataFrame, affected_cells: DataFrame, lut_patch: DataFrame
) -> DataFrame:
    """Merge an incremental patch into a LUT: drop every affected cell's
    old row, append the re-folded rows (cells with no remaining coverage
    simply have no patch row → deleted). The relational form of a MERGE
    — on a lakehouse table this is one DELETE+INSERT on the cell key."""
    return lut.join(affected_cells, "cell", "left_anti").unionByName(lut_patch)
