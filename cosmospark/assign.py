"""The web-scale fact job: point→zone assignment + cell/tile encoding.

This is the reimplementation of the reference's point-in-polygon parent
lookup (``get_parent`` / ``contains_center``, src/additional_zones.rs:102-120,
src/zone_ext.rs:279-284) redesigned for 10^12 rows:

* the zone dimension (small by design — the reference holds the whole
  planet's zones in one process) is compiled into a **per-cell candidate
  index** on the driver and broadcast to executors once;
* the fact side runs ONE narrow ``mapInPandas`` pass — scan → Arrow
  batch → vectorized numpy kernel → sink. No shuffle at all, so
  megacity-cell skew cannot produce a hot reducer on this path, and
  throughput scales linearly with executors (the north-rule scaling
  criterion);
* cells fully covered by a zone are flagged FULL at index-build time, so
  interior points skip the geometry test entirely — only boundary-cell
  points pay for exact PIP (the dominant cost saver at scale: interior
  cells vastly outnumber boundary cells at fine resolutions);
* points covered by no zone optionally fall back to kNN on geometry
  centroids, both strategies (nearest-zone lookup).

The per-zone choice mirrors build_hierarchy: smallest zone_type wins,
tie-broken by (area, zone_id) — deterministic under any partitioning.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from cosmospark import cells, geom
from cosmospark.ztypes import TYPE_RANK

# rank of a zone whose zone_type is unknown: after every known type
UNKNOWN_TYPE_RANK = len(TYPE_RANK)

DEFAULT_RESOLUTIONS = (4, 7, 9)
DEFAULT_TILE_Z = 12
# Finer zone indexing than the self-join: more FULL cells. r7: 64 → 256
# — measured on the 2M-point bench mix, the boundary (non-FULL) strip
# thins 3× (4.97M → 1.68M rows through the Arrow/Python cogroup refine,
# the path's scarce resource at scale) while the per-point explode factor
# DROPS (6 → 4 distinct resolutions) and the key broadcast stays
# zone-dim-scale (32.5k cells × 32 B); the keys_small budget gate already
# degrades to a shuffle join when a planet zone dim overflows it.
INDEX_MAX_CELLS = 256

# total (zone, cell) bucket entries the broadcast index may hold
# (~17 bytes each → ~70 MB of CSR arrays; the zone GEOMETRY usually
# dominates the broadcast long before this does)
INDEX_CELL_BUDGET = 4_000_000
INDEX_MAX_CELLS_CAP = 1024


def auto_max_cells(n_zones: int, cell_budget: int = INDEX_CELL_BUDGET) -> int:
    """Per-zone cell cap sized to the zone count: finer cells mean more
    FULL cells (interior points skip the geometry test entirely —
    measured 64→1024 cells/zone takes the assign kernel from 244k to
    874k rows/s/core on the lux world, FULL fraction 0.29→0.80). At
    planet scale (10⁶ zones) this clamps down and the broadcast-budget
    guard hands off to the partitioned path anyway. Granularity does
    not affect results — only how often the exact PIP runs."""
    return int(min(INDEX_MAX_CELLS_CAP, max(16, cell_budget // max(n_zones, 1))))


# ---------------------------------------------------------------------------
# Zone index (driver-built, broadcast)


def zone_cover(rings: list, max_cells: int) -> tuple[int, np.ndarray, np.ndarray]:
    """→ (res, cells, full): the zone's bbox covered by ≤ ``max_cells``
    cells at the finest fitting resolution, each flagged FULL when the
    whole cell lies inside the zone (its points skip PIP). FULL is
    marked vectorized across the cells (corners-inside + no-edge-overlap
    — conservative but O(k)). The one covering both strategies use."""
    minx, miny, maxx, maxy = geom.bbox(rings)
    res = cells.fit_res(minx, miny, maxx, maxy, max_cells)
    cc = cells.cells_for_bbox(minx, miny, maxx, maxy, res)
    return res, cc, geom.rects_fully_covered(*cells.cell_bounds_batch(cc, res), rings)


def nearest_centroid(
    lon: np.ndarray, lat: np.ndarray, ids: np.ndarray, cx: np.ndarray, cy: np.ndarray
) -> np.ndarray:
    """→ id of the nearest centroid per point (brute force: the zone dim
    is broadcast-scale). ``ids`` ascending, so argmin's first-hit
    tie-break picks the smallest zone id — the oracle's ORDER BY d2, id."""
    d2 = (lon[:, None] - cx[None, :]) ** 2 + (lat[:, None] - cy[None, :]) ** 2
    return ids[np.argmin(d2, axis=1)]


def _centroid_arrays(cents) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(zone_id, cx, cy) tuples → ``nearest_centroid``'s id-sorted
    (ids, cx, cy) arrays."""
    cents = sorted(cents)
    return (
        np.array([c[0] for c in cents], dtype=np.int64),
        np.array([c[1] for c in cents], dtype=np.float64),
        np.array([c[2] for c in cents], dtype=np.float64),
    )


class ZoneIndex:
    """Per-(res, cell) candidate lists + packed geometries, CSR-encoded
    per resolution for vectorized numpy lookup inside Arrow batches.
    Misses optionally fall back to kNN on geometry centroids (both
    strategies)."""

    def __init__(self, zone_rows: list[dict], max_cells: int | None = None):
        if max_cells is None:
            max_cells = auto_max_cells(len(zone_rows))
        self.geoms: dict[int, list] = {}
        zids, ranks, areas, cents = [], [], [], []
        cover_res, cover_cells, cover_full = [], [], []

        for row in zone_rows:
            if not row["rings"]:
                continue
            zid = int(row["id"])
            rings = geom.rows_to_rings(row["rings"])
            self.geoms[zid] = rings
            zids.append(zid)
            ranks.append(TYPE_RANK.get(row.get("zone_type"), UNKNOWN_TYPE_RANK))
            areas.append(geom.area(rings))
            c = geom.centroid(rings)
            if c is not None:
                cents.append((zid, *c))
            res, cc, full = zone_cover(rings, max_cells)
            cover_res.append(res)
            cover_cells.append(cc)
            cover_full.append(full)

        # dense rank/area lookup arrays (vectorized candidate scoring)
        zid_a = np.array(zids, dtype=np.int64)
        order = np.argsort(zid_a, kind="stable")
        self._zid_sorted = zid_a[order]
        self._rank_arr = np.array(ranks, dtype=np.int64)[order]
        self._area_arr = np.array(areas, dtype=np.float64)[order]

        self.centroid_ids, self.centroid_x, self.centroid_y = _centroid_arrays(cents)

        # CSR per resolution: one stable sort of every (res, cell, zone,
        # full) entry keeps each cell's zones in input order
        n = [len(cc) for cc in cover_cells]
        res_a = np.repeat(np.array(cover_res, dtype=np.int64), n)
        cell_a = np.concatenate(cover_cells + [np.zeros(0, np.int64)])
        order = np.lexsort((cell_a, res_a))
        res_a, cell_a = res_a[order], cell_a[order]
        zid_a = np.repeat(zid_a, n)[order]
        full_a = np.concatenate(cover_full + [np.zeros(0, bool)])[order]
        res_vals, res_starts = np.unique(res_a, return_index=True)
        res_ends = np.append(res_starts[1:], len(res_a))
        self.res_list: list[int] = [int(r) for r in res_vals]
        self.csr: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = {}
        for res, lo, hi in zip(self.res_list, res_starts, res_ends):
            cell_ids, starts = np.unique(cell_a[lo:hi], return_index=True)
            offs = np.append(starts, hi - lo).astype(np.int64)
            self.csr[res] = (cell_ids, offs, zid_a[lo:hi], full_a[lo:hi])

    # ---- batch kernels ----

    def candidates(self, lon: np.ndarray, lat: np.ndarray):
        """→ (pt_idx, zone_id, full) candidate triples for a point batch."""
        if not self.res_list:
            return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, bool))
        finest = max(self.res_list)
        base = cells.cell_encode(lon, lat, finest)
        pts_all, zs_all, fl_all = [], [], []
        for res in self.res_list:
            pc = base >> (2 * (finest - res))
            cell_ids, offs, zids, fulls = self.csr[res]
            pos = np.searchsorted(cell_ids, pc)
            pos_c = np.clip(pos, 0, len(cell_ids) - 1)
            hit = (len(cell_ids) > 0) & (cell_ids[pos_c] == pc)
            hit_idx = np.nonzero(hit)[0]
            if len(hit_idx) == 0:
                continue
            starts = offs[pos_c[hit_idx]]
            ends = offs[pos_c[hit_idx] + 1]
            counts = ends - starts
            pts = np.repeat(hit_idx, counts)
            # vectorized CSR range expansion (no per-range python loop)
            total = int(counts.sum())
            if total == 0:
                continue
            bases = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=bases[1:])
            flat = np.arange(total, dtype=np.int64) - np.repeat(bases, counts) + np.repeat(starts, counts)
            pts_all.append(pts)
            zs_all.append(zids[flat])
            fl_all.append(fulls[flat])
        if not pts_all:
            return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, bool))
        return np.concatenate(pts_all), np.concatenate(zs_all), np.concatenate(fl_all)

    def assign(self, lon: np.ndarray, lat: np.ndarray, knn_fallback: bool = False) -> np.ndarray:
        """→ zone_id per point (-1 = unassigned): candidate lookup, FULL
        short-circuit, per-zone vectorized PIP, min-(rank, area, id)."""
        n = len(lon)
        pts, zs, full = self.candidates(lon, lat)

        if len(pts):
            accept = full.copy()
            todo = np.nonzero(~full)[0]
            if len(todo):
                order = np.argsort(zs[todo], kind="stable")
                todo = todo[order]
                bz = zs[todo]
                bounds = np.nonzero(np.diff(bz))[0] + 1
                for seg in np.split(np.arange(len(todo)), bounds):
                    if len(seg) == 0:
                        continue
                    zid = int(bz[seg[0]])
                    rows = todo[seg]
                    p = pts[rows]
                    ok = geom.pip_covers(lon[p], lat[p], self.geoms[zid])
                    accept[rows[ok]] = True
            pts, zs = pts[accept], zs[accept]

        out = np.full(n, -1, dtype=np.int64)
        if len(pts):
            pos = np.searchsorted(self._zid_sorted, zs)
            ranks = self._rank_arr[pos]
            areas = self._area_arr[pos]
            order = np.lexsort((zs, areas, ranks, pts))
            pts_o = pts[order]
            first = np.ones(len(pts_o), dtype=bool)
            first[1:] = pts_o[1:] != pts_o[:-1]
            out[pts_o[first]] = zs[order][first]

        if knn_fallback and (out == -1).any() and len(self.centroid_ids):
            miss = np.nonzero(out == -1)[0]
            out[miss] = nearest_centroid(
                lon[miss], lat[miss], self.centroid_ids, self.centroid_x, self.centroid_y
            )
        return out


def build_zone_index(zones: DataFrame, max_cells: int | None = None) -> ZoneIndex:
    rows = [r.asDict(recursive=True) for r in zones.select("id", "zone_type", "rings").collect()]
    return ZoneIndex(rows, max_cells)


# ---------------------------------------------------------------------------
# Fact-side jobs


def encode_points(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    resolutions: tuple[int, ...] = DEFAULT_RESOLUTIONS,
    tile_z: int = DEFAULT_TILE_Z,
) -> DataFrame:
    """Add cell_r{res} (multi-resolution quadkey) + tile_id columns, no
    shuffle. Finest res is encoded once; coarser ids are prefix shifts
    (bijective prefix scheme).

    r7: the quadkey columns are pure JVM whole-stage codegen
    (``cells.col_cell_encode`` — bit-identical to the numpy kernel,
    test_col_cell_encode_matches_numpy), so consumers that only need
    cells (the partitioned cogroup path, multi-res rollups) pay NO
    Python boundary at all. Only ``tile_id`` still crosses Arrow, as a
    narrow (lon, lat) → long scalar pandas_udf rather than the old
    full-frame mapInPandas: the WebMercator y uses log/tan/cos, where
    numpy and the JVM's libm may differ in the last ulp — a floor flip
    at a tile boundary would change declared tile-query outputs, so the
    numpy kernel stays authoritative. Catalyst prunes the unused
    ArrowEvalPython when a consumer never touches tile_id."""
    res_sorted = sorted(resolutions)
    finest = res_sorted[-1]
    base = cells.col_cell_encode(F.col(lon_col), F.col(lat_col), finest)
    out = df
    for r in res_sorted:
        out = out.withColumn(f"cell_r{r}", F.shiftright(base, 2 * (finest - r)))

    @F.pandas_udf(T.LongType())
    def _tile(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(
            cells.tile_encode(
                lon.to_numpy(dtype=np.float64),
                lat.to_numpy(dtype=np.float64),
                tile_z,
            )
        )

    return out.withColumn("tile_id", _tile(F.col(lon_col), F.col(lat_col)))


# Broadcast budget for the zone geometry index. The reference assumes
# all zones fit one process (README.md:55-62); we do NOT: above this
# budget assign_zones(strategy="auto") switches to the partitioned
# cell-cogroup join, because a pickled multi-GB index broadcast to every
# executor is exactly the planet-scale failure hierarchy.find_inclusions
# already refuses (hierarchy.py geometry-join comment).
BROADCAST_BUDGET_BYTES = 256 << 20

# target rows per Python refine bucket (see _refine_buckets): small
# enough that one bucket's points + candidate output fit comfortably in
# a worker's memory, large enough that the per-invocation Arrow/pandas
# overhead amortizes (~50k rows ≈ 2 MB of (pid, lon, lat))
_REFINE_BUCKET_ROWS = 50_000


def _refine_buckets(points: DataFrame, explode_factor: int) -> int:
    """Bucket count for the cogroup PIP refine, derived from the fact
    side's Catalyst size estimate (free — no job). ``points`` is the
    (id, lon, lat) projection the refine shuffles, so the bytes-based
    fallback does not count the caller's wide payload columns. r7: the refine used
    to cogroup directly on (res, cell), which at a fine zone index
    means tens of thousands of TINY groups — and per-group
    Arrow↔pandas overhead, not PIP arithmetic, measured as ~90 % of the
    path's CPU (77 CPU-s for ~2 s of kernel math on the 2M-point bench
    mix). Hashing cells into ~rows/50k buckets keeps the identical
    pairing logic (the kernel regroups per cell in numpy) while cutting
    Python invocations by orders of magnitude. Accuracy within a few ×
    is fine; the clamp bounds both ends, and bucket count scales with
    the input (never a local[32]-tuned constant)."""
    try:
        stats = points._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            n = int(str(rc.get()))
        else:
            n = max(1, int(str(stats.sizeInBytes())) // 48)
    except Exception:  # plan stats unavailable — conservative default
        n = 1 << 22
    n *= max(1, explode_factor)
    b = 1
    while b * _REFINE_BUCKET_ROWS < n and b < (1 << 20):
        b <<= 1
    return max(b, 64)


def estimate_zone_geom_bytes(zones: DataFrame) -> int:
    """Estimated in-memory size of the broadcast ZoneIndex: 16 bytes per
    vertex (two float64) + ~200 bytes/zone overhead. One JVM-side agg —
    no geometry is collected to decide the strategy."""
    row = zones.select(
        F.sum(
            F.expr(
                "aggregate(coalesce(rings, array()), 0L, (acc, r) -> acc + 16 * size(r.xs))"
            )
        ).alias("geom"),
        F.count("*").alias("n"),
    ).collect()[0]
    return int(row["geom"] or 0) + 200 * int(row["n"])


def _pick_strategy(
    strategy: str, zones: DataFrame, broadcast_budget_bytes: int, id_col: str | None
) -> str:
    """The one budget rule behind ``strategy="auto"``; other values pass
    through."""
    if strategy not in ("auto", "broadcast", "partitioned"):
        raise ValueError(f"unknown assign strategy {strategy!r}")
    if strategy != "auto":
        return strategy
    if id_col is None or estimate_zone_geom_bytes(zones) <= broadcast_budget_bytes:
        return "broadcast"
    return "partitioned"


def assign_zones(
    points: DataFrame,
    zones: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    knn_fallback: bool = False,
    index_max_cells: int | None = None,
    strategy: str = "broadcast",
    id_col: str | None = None,
    broadcast_budget_bytes: int = BROADCAST_BUDGET_BYTES,
    n_salt: int | None = None,
) -> DataFrame:
    """points + zone_id (long, -1 if unassigned and no kNN fallback;
    kNN on geometry centroids, both strategies).

    strategy:
      * ``broadcast`` — compile the zone dim into a per-cell index on the
        driver, broadcast once, ONE narrow mapInPandas over the fact
        side (zero shuffles; the default — zone dims are broadcast-scale
        by design);
      * ``partitioned`` — no driver collect / no geometry broadcast:
        zones explode to (res, cell) rows, points explode per index
        resolution, and a cogroup-per-cell PIP join + per-point argmin
        resolves the zone. Requires ``id_col`` (a unique point key).
        This is the fallback for zone tables above broadcast budget
        (planet-scale detailed geometry can be tens of GB);
      * ``auto`` — broadcast while the JVM-side geometry estimate fits
        ``broadcast_budget_bytes``, else partitioned; without ``id_col``
        (which partitioned needs) always broadcast.

    The pixel-LUT raster join is ``raster.assign_zones_raster``.
    """
    strategy = _pick_strategy(strategy, zones, broadcast_budget_bytes, id_col)
    if strategy == "partitioned":
        if id_col is None:
            raise ValueError("partitioned strategy requires id_col (unique point key)")
        return assign_zones_partitioned(
            points, zones, lon_col, lat_col,
            knn_fallback=knn_fallback, index_max_cells=index_max_cells, id_col=id_col,
            n_salt=n_salt,
        )

    spark = points.sparkSession
    index = build_zone_index(zones, index_max_cells)
    bc = spark.sparkContext.broadcast(index)

    out_schema = T.StructType(points.schema.fields + [T.StructField("zone_id", T.LongType())])

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value
        for pdf in batches:
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            pdf["zone_id"] = idx.assign(lon, lat, knn_fallback=knn_fallback)
            yield pdf

    return points.mapInPandas(_assign, out_schema)


_ZONE_CELLS_SCHEMA = T.StructType(
    [
        T.StructField(
            "cells",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("res", T.IntegerType()),
                        T.StructField("cell", T.LongType()),
                        T.StructField("full", T.BooleanType()),
                    ]
                )
            ),
        ),
        # rings flattened to binary: the nested rings struct segfaults
        # pyspark's cogroup Arrow deserializer (mapInPandas is fine);
        # the flat encoding also shrinks the shuffle payload
        T.StructField("rings_bin", T.BinaryType()),
        # geom.area / geom.centroid of the SAME numpy rings the
        # broadcast ZoneIndex uses — bit-identical argmin tie-break and
        # kNN fallback across both strategies
        T.StructField("area", T.DoubleType()),
        T.StructField("cx", T.DoubleType()),
        T.StructField("cy", T.DoubleType()),
    ]
)


def _zone_cells_with_full(zones: DataFrame, max_cells: int) -> DataFrame:
    """(zone_id, rank, area, rings_bin, cx, cy, res, cell, full) — the
    distributed twin of the ZoneIndex CSR entries (same ``zone_cover``),
    kept as a DataFrame instead of a driver-pickled broadcast. Zones
    without rings have no cells and so no rows; (cx, cy) is the geometry
    centroid, NULL when degenerate."""
    from cosmospark.hierarchy import type_rank_col

    @F.pandas_udf(_ZONE_CELLS_SCHEMA)
    def _cells(rings_s: pd.Series) -> pd.DataFrame:
        out = []
        for rows in rings_s:
            if rows is None or len(rows) == 0:
                out.append(
                    {"cells": [], "rings_bin": b"", "area": 0.0, "cx": None, "cy": None}
                )
                continue
            rr = geom.rows_to_rings(rows)
            res, cc, fv = zone_cover(rr, max_cells)
            acc = [
                {"res": res, "cell": int(c), "full": bool(f)}
                for c, f in zip(cc, fv)
            ]
            cx, cy = geom.centroid(rr) or (None, None)
            out.append(
                {"cells": acc, "rings_bin": geom.pack_rings(rr), "area": geom.area(rr),
                 "cx": cx, "cy": cy}
            )
        return pd.DataFrame(out)

    rank = F.coalesce(type_rank_col(F.col("zone_type")), F.lit(UNKNOWN_TYPE_RANK))
    z = zones.select(
        F.col("id").alias("zone_id"), rank.alias("rank"), F.col("rings")
    ).withColumn("rc", _cells("rings"))
    return z.select(
        "zone_id", "rank", "rc.area", "rc.rings_bin", "rc.cx", "rc.cy",
        F.explode("rc.cells").alias("e"),
    ).select("zone_id", "rank", "area", "rings_bin", "cx", "cy", "e.res", "e.cell", "e.full")


def assign_zones_partitioned(
    points: DataFrame,
    zones: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    knn_fallback: bool = False,
    index_max_cells: int | None = None,
    id_col: str = "pid",
    n_salt: int | None = None,
    hot_key_fraction: float = 0.05,
) -> DataFrame:
    """The no-broadcast zone assignment: shuffle-join points and zone
    geometry on (res, cell), refine with the same numpy PIP kernel inside
    a cogroup, resolve per-point (rank, area, id) argmin JVM-side.

    Semantics identical to the broadcast path (same kernels, same
    tie-break); cost profile differs: one shuffle of the fact side per
    index resolution + one shuffle for the argmin — the price of not
    shipping tens-of-GB geometry to every executor.

    **Megacity skew (r5):** the JVM joins here are AQE's problem (skew
    splitting works on SortMergeJoin), but the Python cogroup is NOT —
    AQE cannot split an ``applyInPandas`` group, so one megacity cell
    holding 30% of the facts becomes one straggler task. ``n_salt``
    turns on adaptive hot-key salting: a cheap sampled count finds
    keys carrying ≥ ``hot_key_fraction`` of the refine rows, ONLY those
    keys' points spread across ``n_salt`` sub-keys (zone rows replicate
    ×``n_salt`` for hot keys only — zone-dim × few-hot-cells scale),
    and the cogroup keys on (res, cell, salt). Cold keys keep salt 0,
    so the common case pays nothing (the same sampled-first-pass
    pattern as ``adaptive_salted_agg``, applied to the cogroup)."""
    spark = points.sparkSession
    if index_max_cells is None:
        # zone cells are SHUFFLED here, not broadcast — the explode
        # factor is a per-row cost, so the fixed conservative default
        # applies rather than the broadcast path's auto budget
        index_max_cells = INDEX_MAX_CELLS
    # localCheckpoint, not .cache(): blocks free with the plan via the
    # ContextCleaner instead of accumulating catalog entries across
    # composed query invocations (ADVICE r3 lifecycle rule)
    zcells = _zone_cells_with_full(zones, index_max_cells).localCheckpoint(eager=True)
    # one tiny agg gives the resolution list AND the cell count that
    # sizes the key-only broadcasts below (geometry is NEVER broadcast
    # on this path; 16-byte (res, cell) keys are a different budget)
    res_stats = zcells.groupBy("res").count().collect()
    res_list = sorted(r["res"] for r in res_stats)
    n_zcells = sum(r["count"] for r in res_stats)
    keys_small = n_zcells * 32 <= BROADCAST_BUDGET_BYTES
    if not res_list:
        out = points.withColumn("zone_id", F.lit(-1).cast("long"))
        return out

    finest = max(res_list)
    pts = points.select(id_col, lon_col, lat_col)

    # pure-JVM multi-res encode: morton at the finest res (bit-identical
    # to the numpy kernel — test_col_cell_encode_matches_numpy), coarser
    # ids by prefix shift. Round 2 ran a mapInPandas here: a full extra
    # Arrow round-trip of the fact table just to compute 6 longs.
    enc = pts.withColumn(
        f"_c{finest}",
        cells.col_cell_encode(F.col(lon_col), F.col(lat_col), finest),
    )
    for r in res_list[:-1]:
        enc = enc.withColumn(
            f"_c{r}", F.shiftright(F.col(f"_c{finest}"), 2 * (finest - r))
        )
    res_struct = F.array(
        *[
            F.struct(F.lit(r).alias("res"), F.col(f"_c{r}").alias("cell"))
            for r in res_list
        ]
    )
    pcells = enc.select(id_col, lon_col, lat_col, F.explode(res_struct).alias("e")).select(
        id_col, lon_col, lat_col,
        F.col("e.res").alias("res"), F.col("e.cell").alias("cell"),
    )

    cand_schema = T.StructType(
        [
            T.StructField("pid", points.schema[id_col].dataType),
            T.StructField("zone_id", T.LongType()),
            T.StructField("rank", T.IntegerType()),
            T.StructField("area", T.DoubleType()),
        ]
    )

    def _make_pip_bucket(key_cols: list[str]):
        """Kernel for one HASH BUCKET of (res, cell[, salt]) groups
        (r7). The bucket kernel regroups its point rows per cell with
        one lexsort and evaluates exactly the same (point, zone-row)
        pairs the per-cell cogroup did — same pip_covers kernel, same
        inputs, so the candidate set is identical; only the Python
        invocation count changes (tens of thousands of tiny per-cell
        calls → one per bucket). Ring unpacking memoizes per zone_id
        within the bucket (a zone's geometry repeats across its
        boundary cells)."""

        def _pip_bucket(key, pg: pd.DataFrame, zg: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in cand_schema.fields}
            )
            if len(pg) == 0 or len(zg) == 0:
                return empty
            # positional access: itertuples mangles leading-underscore
            # names (the _salt key), so index numpy views instead
            z_keys = [zg[c].to_numpy() for c in key_cols]
            z_zid = zg["zone_id"].to_numpy()
            z_rank = zg["rank"].to_numpy()
            z_area = zg["area"].to_numpy()
            z_bin = zg["rings_bin"].to_list()
            zmap: dict = {}
            for i in range(len(zg)):
                zmap.setdefault(
                    tuple(int(c[i]) for c in z_keys), []
                ).append(i)
            lon = pg[lon_col].to_numpy(dtype=np.float64)
            lat = pg[lat_col].to_numpy(dtype=np.float64)
            pids = pg[id_col].to_numpy()
            kcols = [pg[c].to_numpy() for c in key_cols]
            order = np.lexsort(kcols[::-1])
            ks = [c[order] for c in kcols]
            n = len(order)
            brk = np.zeros(n, dtype=bool)
            brk[0] = True
            for c in ks:
                brk[1:] |= c[1:] != c[:-1]
            starts = np.flatnonzero(brk)
            ends = np.append(starts[1:], n)
            rmemo: dict = {}
            out_pid, out_zid, out_rank, out_area = [], [], [], []
            for s, e in zip(starts, ends):
                zrows = zmap.get(tuple(int(c[s]) for c in ks))
                if not zrows:
                    continue
                idx = order[s:e]
                gl = lon[idx]
                gt = lat[idx]
                gp = pids[idx]
                for zi in zrows:
                    zid = int(z_zid[zi])
                    rr = rmemo.get(zid)
                    if rr is None:
                        rr = rmemo[zid] = geom.unpack_rings(z_bin[zi])
                    hit = geom.pip_covers(gl, gt, rr)
                    hidx = np.nonzero(hit)[0]
                    if len(hidx):
                        out_pid.append(gp[hidx])
                        out_zid.append(np.full(len(hidx), zid, dtype=np.int64))
                        out_rank.append(
                            np.full(len(hidx), int(z_rank[zi]), dtype=np.int32)
                        )
                        out_area.append(np.full(len(hidx), float(z_area[zi])))
            if not out_pid:
                return empty
            return pd.DataFrame(
                {
                    "pid": np.concatenate(out_pid),
                    "zone_id": np.concatenate(out_zid),
                    "rank": np.concatenate(out_rank),
                    "area": np.concatenate(out_area),
                }
            )

        return _pip_bucket

    def _maybe_bc(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if keys_small else df

    # FULL cells (cell entirely inside the zone) need no geometry and no
    # Python: a JVM equi-join on (res, cell) IS the containment proof.
    # For hierarchy-shaped zone tables the coarse levels (country/state)
    # mark most of their area FULL, so the bulk of the candidate volume
    # resolves in whole-stage codegen and never crosses the Arrow
    # boundary. The join side carries 4 scalars per cell — zone-dim cell
    # scale — broadcast only under the key budget, shuffle join above it.
    zfull = zcells.filter(F.col("full")).select(
        "res", "cell", "zone_id", "rank", "area"
    )
    full_hits = pcells.join(_maybe_bc(zfull), ["res", "cell"]).select(
        F.col(id_col).alias("pid"), "zone_id", "rank", "area"
    )

    # Boundary (non-FULL) cells go through the cogroup PIP refine — but
    # only point rows whose (res, cell) actually has a boundary cell:
    # the key-only semi-join drops the rest map-side, which also kills
    # the ~N(point cells) empty python groups the round-2 cogroup paid
    # for (every point cell with no zone at that res invoked the UDF).
    zref = zcells.filter(~F.col("full")).drop("cx", "cy")
    pref = pcells.join(
        _maybe_bc(zref.select("res", "cell").distinct()), ["res", "cell"], "leftsemi"
    )
    group_keys = ["res", "cell"]
    if n_salt and n_salt > 1:
        # adaptive hot-key detection: ONE sampled aggregate over the
        # refine rows (deterministic seed), keys above hot_key_fraction
        # collect driver-side (≤ 1/hot_key_fraction of them by
        # construction — a handful of scalars, never geometry)
        sampled = (
            pref.sample(fraction=0.02, seed=42)
            .groupBy("res", "cell")
            .agg(F.count("*").alias("c"))
            .localCheckpoint(eager=True)
        )
        tot = sampled.agg(F.sum("c")).collect()[0][0] or 0
        hot_rows = (
            [
                (int(r["res"]), int(r["cell"]))
                for r in sampled.filter(
                    F.col("c") >= hot_key_fraction * tot
                ).collect()
            ]
            if tot
            else []
        )
        if hot_rows:
            hot_df = F.broadcast(
                spark.createDataFrame(
                    hot_rows, "res int, cell long"
                ).withColumn("_hot", F.lit(True))
            )
            salt_lits = F.array(*[F.lit(i) for i in range(n_salt)])
            pref = (
                pref.join(hot_df, ["res", "cell"], "left")
                .withColumn(
                    "_salt",
                    F.when(
                        F.col("_hot"), F.pmod(F.hash(id_col), F.lit(n_salt))
                    ).otherwise(F.lit(0)),
                )
                .drop("_hot")
            )
            zref = (
                zref.join(hot_df, ["res", "cell"], "left")
                .withColumn(
                    "_salt",
                    F.explode(
                        F.when(F.col("_hot"), salt_lits).otherwise(
                            F.array(F.lit(0))
                        )
                    ),
                )
                .drop("_hot")
            )
            group_keys = ["res", "cell", "_salt"]
    # r7: cogroup on a HASH BUCKET of the group key, not the raw
    # (res, cell[, salt]) — see _refine_buckets. Salted sub-groups of a
    # hot cell hash to different buckets, so the salting contract (one
    # megacity cell never lands on one task) is preserved.
    n_buckets = _refine_buckets(pts, len(res_list))
    bcol = F.pmod(F.xxhash64(*group_keys), F.lit(n_buckets))
    cand = (
        pref.withColumn("_b", bcol)
        .groupBy("_b")
        .cogroup(zref.withColumn("_b", bcol).groupBy("_b"))
        .applyInPandas(_make_pip_bucket(group_keys), cand_schema)
        .unionByName(full_hits)
    )
    winners = cand.groupBy("pid").agg(
        F.min_by("zone_id", F.struct(F.col("rank"), F.col("area"), F.col("zone_id"))).alias(
            "zone_id"
        )
    )
    out = points.join(
        winners.withColumnRenamed("pid", id_col), id_col, "left"
    ).withColumn("zone_id", F.coalesce(F.col("zone_id"), F.lit(-1)).cast("long"))

    if knn_fallback:
        # the same geometry centroids as ZoneIndex, from the UDF that
        # already unpacked the rings: tiny at any scale → broadcastable
        cents = _centroid_arrays(
            (int(r["zone_id"]), r["cx"], r["cy"])
            for r in zcells.filter(F.col("cx").isNotNull())
            .select("zone_id", "cx", "cy")
            .dropDuplicates(["zone_id"])
            .collect()
        )
        if len(cents[0]):
            bc = spark.sparkContext.broadcast(cents)

            def _knn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                kids, kx, ky = bc.value
                for pdf in batches:
                    vals = pdf["zone_id"].to_numpy().copy()
                    miss = vals == -1
                    if miss.any():
                        vals[miss] = nearest_centroid(
                            pdf.loc[miss, lon_col].to_numpy(dtype=np.float64),
                            pdf.loc[miss, lat_col].to_numpy(dtype=np.float64),
                            kids, kx, ky,
                        )
                        pdf["zone_id"] = vals
                    yield pdf

            out = out.mapInPandas(_knn, out.schema)
    return out


# zoom level of a zone's tile pyramid, by zone type (coarse types → coarse
# tiles); the image's tile within its enclosing zone's pyramid
ZONE_TILE_Z = {
    "country": 5,
    "country_region": 6,
    "state": 7,
    "state_district": 9,
    "city": 11,
    "city_district": 12,
    "suburb": 13,
    "non_administrative": 12,
}


def encode_and_assign(
    points: DataFrame,
    zones: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    resolutions: tuple[int, ...] = DEFAULT_RESOLUTIONS,
    tile_z: int = DEFAULT_TILE_Z,
    knn_fallback: bool = False,
    index_max_cells: int | None = None,
) -> DataFrame:
    """Fused cell/tile encode + zone assignment in ONE mapInPandas pass.

    Chaining encode_points → assign_zones costs two Arrow round trips;
    at 10^12 rows the python-exchange is the dominant cost on this
    all-narrow path, so the fused variant halves it. Semantics identical
    to encode_points(...) then assign_zones(...)."""
    spark = points.sparkSession
    index = build_zone_index(zones, index_max_cells)
    bc = spark.sparkContext.broadcast(index)
    res_sorted = sorted(resolutions)
    finest = res_sorted[-1]

    out_fields = list(points.schema.fields)
    out_fields += [T.StructField(f"cell_r{r}", T.LongType()) for r in res_sorted]
    out_fields += [T.StructField("tile_id", T.LongType()), T.StructField("zone_id", T.LongType())]
    out_schema = T.StructType(out_fields)

    def _fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value
        for pdf in batches:
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            base = cells.cell_encode(lon, lat, finest)
            for r in res_sorted:
                pdf[f"cell_r{r}"] = base >> (2 * (finest - r))
            pdf["tile_id"] = cells.tile_encode(lon, lat, tile_z)
            pdf["zone_id"] = idx.assign(lon, lat, knn_fallback=knn_fallback)
            yield pdf

    return points.mapInPandas(_fused, out_schema)


def assign_images(
    images: DataFrame,
    zones: DataFrame,
    resolutions: tuple[int, ...] = DEFAULT_RESOLUTIONS,
    tile_z: int = DEFAULT_TILE_Z,
    knn_fallback: bool = True,
    strategy: str = "broadcast",
    id_col: str = "image_id",
    broadcast_budget_bytes: int = BROADCAST_BUDGET_BYTES,
) -> DataFrame:
    """The flagship fact job: encode cells/tiles, assign zones, and add
    the enclosing zone's pyramid tile (zone_tile_id) + zone metadata.

    ``strategy='auto'`` applies the same broadcast-size guard as
    assign_zones: above budget, the fused single-pass plan splits into
    encode_points + the partitioned cell-cogroup assignment (two narrow
    passes + one shuffle instead of shipping multi-GB geometry to every
    executor)."""
    strategy = _pick_strategy(strategy, zones, broadcast_budget_bytes, id_col)
    if strategy == "partitioned":
        enc = encode_points(images, resolutions=resolutions, tile_z=tile_z)
        assigned = assign_zones_partitioned(
            enc, zones, knn_fallback=knn_fallback, id_col=id_col
        )
    else:
        assigned = encode_and_assign(
            images, zones, resolutions=resolutions, tile_z=tile_z,
            knn_fallback=knn_fallback,
        )

    zmeta = zones.select(
        F.col("id").alias("zone_id"),
        F.col("zone_type").alias("zone_type"),
        F.col("parent").alias("parent_zone_id"),
    )
    out = assigned.join(F.broadcast(zmeta), "zone_id", "left")

    zexpr = F.lit(None).cast("int")
    for t, z in ZONE_TILE_Z.items():
        zexpr = F.when(F.col("zone_type") == t, F.lit(z)).otherwise(zexpr)
    # the pyramid zoom is clamped to the image tile zoom: zone_tile_id is
    # derived from tile_id by ancestor shift, and a shift by a negative
    # amount (e.g. suburb z13 > default tile_z 12) is undefined — Spark
    # masks it to 63 and every suburb image would get a bogus tile
    out = out.withColumn(
        "_ztz", F.least(F.coalesce(zexpr, F.lit(tile_z)), F.lit(tile_z))
    )

    # re-derive the pyramid tile from the image's own tile by zoom shift:
    # tile (z,x,y) → ancestor at z' = (z', x >> (z-z'), y >> (z-z'))
    mask = (1 << 29) - 1
    out = out.withColumn(
        "zone_tile_id",
        F.expr(
            f"shiftleft(cast(_ztz as bigint), 58) | "
            f"shiftleft(shiftright(shiftright(tile_id, 29) & {mask}, {tile_z} - _ztz), 29) | "
            f"shiftright(tile_id & {mask}, {tile_z} - _ztz)"
        ),
    ).drop("_ztz")
    return out


def write_assignments(assigned: DataFrame, path: str, prefix_res: int = 4) -> dict:
    """Write the assignment fact table partitioned by coarse cell prefix
    (hive layout ``cell_prefix=<r4-cell>/``), with a snapshot manifest.

    The prefix scheme makes downstream spatial reads partition-prunable:
    any bbox query maps to a set of r4 prefixes, and Catalyst prunes the
    rest of the 10^12-row table at planning time. Manifest carries
    per-partition row counts (lineage, north-rule requirement).
    """
    import json as _json
    import os as _os

    col = f"cell_r{prefix_res}"
    if col not in assigned.columns:
        raise ValueError(f"{col} column required (run encode_points first)")
    (
        assigned.withColumn("cell_prefix", F.col(col))
        .write.mode("overwrite")
        .partitionBy("cell_prefix")
        .parquet(path)
    )
    # per-partition row counts from the parquet FOOTERS (metadata-only,
    # same trick as checkpoint._collect_file_stats) — round 2 re-scanned
    # the whole written fact table just to count, a second full pass over
    # 10^12-scale rows for a manifest
    from cosmospark.checkpoint import _collect_file_stats

    counts: dict[str, int] = {}
    for entry in sorted(_os.listdir(path)):
        if not entry.startswith("cell_prefix="):
            continue
        pdir = _os.path.join(path, entry)
        if not _os.path.isdir(pdir):
            continue
        counts[entry.split("=", 1)[1]] = sum(
            f["rows"] for f in _collect_file_stats(pdir)
        )
    manifest = {
        "prefix_res": prefix_res,
        "n_rows": sum(counts.values()),
        "n_partitions": len(counts),
        "partition_rows": counts,
    }
    with open(_os.path.join(path, "_ASSIGN_MANIFEST.json"), "w") as fh:
        _json.dump(manifest, fh, indent=1)
    return manifest


# ---------------------------------------------------------------------------
# Hierarchical rollup + skew tooling


def salted_count(df: DataFrame, keys: list[str], n_salt: int = 16, salt_col: str | None = None) -> DataFrame:
    """Two-phase skew-proof count: groupBy(keys + salt) partial, then
    groupBy(keys) final. Catalyst's partial aggregation usually makes
    this implicit; the explicit salt guards pathological single-key skew
    (megacity cells) even under non-combinable downstream aggs."""
    if salt_col is not None:
        salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salt))
    else:
        salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salt))
    partial = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(*keys).agg(F.sum("_c").alias("n"))


def adaptive_salted_agg(
    df: DataFrame,
    keys: list[str],
    agg_exprs: dict[str, str],
    hot_threshold_rows: int = 1_000_000,
    max_salt: int = 256,
    sample_fraction: float = 0.01,
) -> DataFrame:
    """Skew-adaptive two-phase aggregation: a cheap sampled first pass
    estimates per-key row counts; only keys above ``hot_threshold_rows``
    get salted, with a per-key salt factor proportional to their share
    (the SURVEY §4 'per-cell n_salt from a first-pass count histogram').
    Cold keys aggregate directly — no blanket salting overhead.

    ``agg_exprs`` maps output column → SQL aggregate over the PARTIAL
    results, where the partial pass pre-aggregates ``cnt`` (rows) and
    every referenced input column must be sum-decomposable (count/sum —
    the decomposable aggregates skew actually threatens; min/max don't
    need salting at all).

    Example::

        adaptive_salted_agg(fact, ["zone_id"], {"n": "sum(cnt)"})
    """
    spark = df.sparkSession
    est = (
        df.sample(fraction=sample_fraction, seed=7)
        .groupBy(*keys)
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") * (1.0 / sample_fraction) > hot_threshold_rows)
        .collect()
    )
    hot = {
        tuple(r[k] for k in keys): int(
            min(max_salt, max(2, r["c"] / sample_fraction / hot_threshold_rows + 1))
        )
        for r in est
    }
    if hot:
        # broadcast map of hot keys → salt factor (tiny by construction:
        # only keys carrying ≥ hot_threshold_rows rows can be in it).
        # Key values are stringified (None-safe) to match the join's
        # cast-to-string probe — raw non-string values (the common
        # zone_id long) would fail createDataFrame's string-schema check
        # exactly when a hot key exists.
        items = [
            ([None if x is None else str(x) for x in k], v) for k, v in hot.items()
        ]
        hot_df = spark.createDataFrame(
            [(k + [v]) for k, v in items],
            ", ".join(f"_hk{i} string" for i in range(len(keys))) + ", _nsalt int",
        )
        cond = None
        for i, k in enumerate(keys):
            c = F.col(k).cast("string") == F.col(f"_hk{i}")
            cond = c if cond is None else cond & c
        salted = df.join(F.broadcast(hot_df), cond, "left").withColumn(
            "_salt",
            F.when(
                F.col("_nsalt").isNotNull(),
                F.pmod(F.xxhash64(*keys, F.monotonically_increasing_id()), F.col("_nsalt")),
            ).otherwise(F.lit(0)),
        )
    else:
        salted = df.withColumn("_salt", F.lit(0))
    partial = salted.groupBy(*keys, "_salt").agg(F.count("*").alias("cnt"))
    final_aggs = [F.expr(sql).alias(name) for name, sql in agg_exprs.items()]
    return partial.groupBy(*keys).agg(*final_aggs)


def adaptive_cell_split(
    pts: DataFrame,
    resolutions: tuple[int, ...] = (9, 13, 17),
    max_rows_per_cell: int = 100_000,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """ADAPTIVE CELL SPLITTING (north_rule: 'skew from megacity cells
    is handled with salted repartitioning and ADAPTIVE CELL SPLITTING'
    — this is the second half; salting is ``salted_count`` /
    ``adaptive_salted_agg``): assign every point its coarsest cell
    whose population is ≤ ``max_rows_per_cell``, descending hot cells
    one resolution level at a time. The result columns ``res`` /
    ``cell`` form a partitioning key under which every partition holds
    ≤ max_rows_per_cell rows (except cells still hot at the finest
    level, which a caller composes with salting), while COLD regions
    keep coarse cells — no over-partitioning of empty ocean.

    Scale shape: one narrow codegen pass encodes all levels
    (col_cell_encode, no Arrow round-trip); each level adds one
    partial-agg count whose exchange carries (cell, count) — distinct
    cells, not rows — and one BROADCAST join back (hot-cell tables hold
    ≤ n/max_rows_per_cell rows BY CONSTRUCTION, so the broadcast is
    bounded by the very threshold that defines it: 10⁹ rows at the 10⁵
    default → ≤ 10⁴ hot cells/level). The fact table is never
    shuffled. Levels beyond the first count only rows inside
    still-hot parents, so per-level agg input shrinks geometrically in
    the cold fraction.

    Returns ``pts`` + (res int, cell long). Deterministic: pure grid
    arithmetic + counts, no sampling."""
    assert len(resolutions) >= 1 and list(resolutions) == sorted(set(resolutions))
    # ONE encode at the finest resolution; coarser levels are prefix
    # shifts (parent(cell) == cell >> 2 — the scheme's bijective-prefix
    # property, exact including the clip: floor and clip commute with
    # the power-of-two grid coarsening). The r6 shape ran the full
    # 5-step bit-spread per level, tripling the per-row encode work on
    # every scan of the fact lineage (r7, guide §1.2).
    finest = resolutions[-1]
    enc = pts.withColumn(
        f"_ac{finest}", cells.col_cell_encode(F.col(lon_col), F.col(lat_col), finest)
    )
    for r in resolutions[:-1]:
        enc = enc.withColumn(
            f"_ac{r}", F.shiftright(F.col(f"_ac{finest}"), 2 * (finest - r))
        )
    # hot flags, coarse → fine: a point is "still descending" at level i
    # iff every ancestor level's cell was hot
    live = None  # Column: still descending after level i
    for i, r in enumerate(resolutions[:-1]):
        scope = enc if live is None else enc.filter(live)
        hot = (
            scope.groupBy(f"_ac{r}")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_rows_per_cell)
            .select(F.col(f"_ac{r}").alias(f"_hc{r}"), F.lit(True).alias(f"_h{r}"))
        )
        enc = enc.join(
            F.broadcast(hot), enc[f"_ac{r}"] == hot[f"_hc{r}"], "left"
        ).drop(f"_hc{r}")
        step = F.col(f"_h{r}").isNotNull()
        live = step if live is None else live & step
    res_c = F.lit(resolutions[-1])
    cell_c = F.col(f"_ac{resolutions[-1]}")
    for r in reversed(resolutions[:-1]):
        res_c = F.when(F.col(f"_h{r}").isNull(), F.lit(r)).otherwise(res_c)
        cell_c = F.when(F.col(f"_h{r}").isNull(), F.col(f"_ac{r}")).otherwise(cell_c)
    out = enc.select(
        *pts.columns, res_c.alias("res"), cell_c.alias("cell")
    )
    return out


def rollup_cells(assigned: DataFrame, resolutions: tuple[int, ...] = DEFAULT_RESOLUTIONS) -> DataFrame:
    """Hierarchical (cell, zone_type) rollup rebuilding the ZonesTree
    counts: aggregate ONCE at the finest resolution, then derive each
    coarser level from the previous by prefix shift — each step reduces
    an already-aggregated table, never rescanning the fact table."""
    res_sorted = sorted(resolutions)
    finest = res_sorted[-1]
    # cached: the finest-level aggregate is re-read by every coarser
    # reduce AND by the final union — without it the fact-table scan
    # re-executes per resolution level
    base = (
        assigned.groupBy(F.col(f"cell_r{finest}").alias("cell"), "zone_type")
        .agg(F.count("*").alias("n"))
        .withColumn("res", F.lit(finest))
        .localCheckpoint(eager=True)
    )
    out = base
    prev = base
    for coarser in reversed(res_sorted[:-1]):
        prev = (
            prev.withColumn("cell", F.shiftright(F.col("cell"), 2 * (finest - coarser)))
            .groupBy("cell", "zone_type")
            .agg(F.sum("n").alias("n"))
            .withColumn("res", F.lit(coarser))
        )
        finest = coarser
        out = out.unionByName(prev)
    return out
