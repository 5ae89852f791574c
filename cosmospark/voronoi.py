"""Additional-zone generation: Voronoi city boundaries from place nodes.

Reimplements src/additional_zones.rs (compute_additional_places):

1. place nodes that are suburb-typed-without-admin-level OR capital=yes
   (:46-50) get a *parent* zone — the smallest admin ≥ City whose
   geometry contains the place center (:102-120);
2. places are kept only when parent.type ≥ place.type, and a Country
   parent is only allowed for the same-named place (:55-72);
3. per parent, the places' Voronoi diagram clipped to the parent
   boundary becomes each place's city polygon (:256-416); a single
   place inherits the whole parent boundary (:268-280);
4. zones of the same type (or siblings under the same parent) that
   intersect a generated polygon are subtracted from it (:198-254);
5. generated zones are appended with dense ids (:418-423).

Geometry is pure numpy — no GEOS. Voronoi cells are exact for arbitrary
parents: half-plane clipping (Sutherland–Hodgman) of the parent's
CONVEX HULL (convex subject → SH exact), then exact subtraction of
hull \\ parent (cosmospark.clip convex decomposition, holes preserved).
Polygon difference is exact for arbitrary simple subtrahends including
holes; axis-aligned rectangles keep the cheap 4-piece path.

The Spark shape: places grouped per parent (A1 collect) → applyInPandas
over parent groups with the zone dimension broadcast — parents are few,
places per parent are few, so this stays comfortably parallel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from cosmospark import geom
from cosmospark.assign import assign_zones
from cosmospark.ztypes import TYPE_RANK


# ---------------------------------------------------------------------------
# numpy kernels


def clip_halfplane(xs: np.ndarray, ys: np.ndarray, a: float, b: float, c: float):
    """Sutherland–Hodgman clip of polygon (xs, ys) against half-plane
    a*x + b*y + c >= 0. Returns (xs, ys) possibly empty."""
    n = len(xs)
    if n == 0:
        return xs, ys
    out_x, out_y = [], []
    d = a * xs + b * ys + c
    for i in range(n):
        j = (i + 1) % n
        di, dj = d[i], d[j]
        if di >= 0:
            out_x.append(xs[i])
            out_y.append(ys[i])
        if (di >= 0) != (dj >= 0):
            t = di / (di - dj)
            out_x.append(xs[i] + t * (xs[j] - xs[i]))
            out_y.append(ys[i] + t * (ys[j] - ys[i]))
    return np.array(out_x), np.array(out_y)


def clip_rect(xs: np.ndarray, ys: np.ndarray, rect) -> tuple[np.ndarray, np.ndarray]:
    minx, miny, maxx, maxy = rect
    for a, b, c in ((1, 0, -minx), (-1, 0, maxx), (0, 1, -miny), (0, -1, maxy)):
        xs, ys = clip_halfplane(xs, ys, a, b, c)
    return xs, ys


def voronoi_cells(px: np.ndarray, py: np.ndarray, boundary: list[geom.Ring]) -> list:
    """Voronoi cell of each point, clipped to the boundary — EXACT for
    arbitrary (concave, holed, multi-) parent polygons, matching the
    reference's GEOS voronoi ∩ parent (additional_zones.rs:320-416).

    Cell i = H_i ∩ parent with H_i = ∩_j {closer to i than j}. Direct SH
    clipping of a concave exterior against the bisectors is NOT exact
    (SH is only exact for convex subjects), so per parent polygon:

        conv_i   = hull(parent_poly) ∩ H_i      (SH on a convex subject — exact)
        residual = hull \\ parent_poly          (exact triangle difference,
                                                 holes of the parent become
                                                 retained residual area)
        cell_i   = conv_i \\ residual           (exact difference)

    ``residual`` is computed ONCE per parent polygon and shared by all
    points; convex hole-free parents short-circuit (residual empty →
    cell = conv_i directly)."""
    from cosmospark import clip as _clip

    polys_by: dict[int, list[geom.Ring]] = {}
    for p, r, xs, ys in boundary:
        polys_by.setdefault(p, []).append((p, r, xs, ys))
    prepared = []  # (hull_xs, hull_ys, residual multipolygon)
    for p, group in sorted(polys_by.items()):
        ext = next((g for g in group if g[1] == 0), None)
        if ext is None:
            continue
        exs, eys = geom._close_ring(np.asarray(ext[2], float), np.asarray(ext[3], float))
        hxs, hys = _clip.convex_hull(exs, eys)
        if len(hxs) < 3:
            continue
        hull_area = abs(_clip._ring_area_signed(hxs, hys))
        poly_area = geom.area(group)
        if hull_area - poly_area <= 1e-12 * max(hull_area, 1.0):
            residual: list[geom.Ring] = []  # convex, no holes
        else:
            residual = _clip.subtract_polygon([(0, 0, hxs, hys)], group)
        prepared.append((hxs, hys, residual))

    cells = []
    for i in range(len(px)):
        polys: list[geom.Ring] = []
        pidx = 0
        for hxs, hys, residual in prepared:
            xs, ys = hxs, hys
            for j in range(len(px)):
                if i == j:
                    continue
                # bisector half-plane: points closer to i than to j
                a = 2.0 * (px[i] - px[j])
                b = 2.0 * (py[i] - py[j])
                c = (px[j] ** 2 - px[i] ** 2) + (py[j] ** 2 - py[i] ** 2)
                xs, ys = clip_halfplane(xs, ys, a, b, c)
                if len(xs) == 0:
                    break
            if len(xs) < 3:
                continue
            if residual:
                pieces = _clip.subtract_polygon([(0, 0, xs, ys)], residual)
            else:
                pieces = [(0, 0, xs, ys)]
            for pp, rr, cxs, cys in pieces:
                polys.append((pidx + pp, rr, cxs, cys))
            pidx += 1 + max((pp for pp, _, _, _ in pieces), default=-1)
        cells.append(polys)
    return cells


def subtract_rect(rings: list[geom.Ring], rect) -> list[geom.Ring]:
    """multipolygon \\ axis-aligned rect, exactly, via the 4-piece
    complement decomposition (left / right / middle-bottom / middle-top).
    Each output piece is clipped against a convex region → SH is exact."""
    minx, miny, maxx, maxy = rect
    big = 1e18
    pieces_regions = [
        (-big, -big, minx, big),  # left of rect
        (maxx, -big, big, big),  # right of rect
        (minx, -big, maxx, miny),  # below, between
        (minx, maxy, maxx, big),  # above, between
    ]
    out: list[geom.Ring] = []
    pidx = 0
    for _, r, xs, ys in rings:
        if r != 0:
            continue  # holes unsupported in v1 difference (documented)
        for region in pieces_regions:
            cx, cy = clip_rect(np.asarray(xs, float), np.asarray(ys, float), region)
            if len(cx) >= 3 and geom.area([(0, 0, cx, cy)]) > 1e-12:
                out.append((pidx, 0, cx, cy))
                pidx += 1
    return out


def _is_axis_rect(other: list[geom.Ring]) -> bool:
    """True iff ``other`` is a single axis-aligned rectangle (no holes)."""
    exteriors = [r for r in other if r[1] == 0]
    if len(exteriors) != 1 or len(other) != 1:
        return False
    _, _, xs, ys = exteriors[0]
    xs, ys = geom._close_ring(np.asarray(xs, float), np.asarray(ys, float))
    if len(xs) != 4:
        return False
    minx, miny, maxx, maxy = geom.bbox(other)
    want = {(minx, miny), (minx, maxy), (maxx, miny), (maxx, maxy)}
    return set(zip(xs.tolist(), ys.tolist())) == want


def subtract_zone(rings: list[geom.Ring], other: list[geom.Ring]) -> list[geom.Ring]:
    """Subtract ``other`` from ``rings``. Exact for arbitrary simple
    polygons INCLUDING holes of the subtrahend (GEOS difference
    semantics, src/additional_zones.rs:198-235 — area inside ``other``'s
    holes is retained) via convex decomposition
    (cosmospark.clip.subtract_polygon); axis-aligned rectangles keep the
    cheap 4-piece path."""
    if _is_axis_rect(other):
        return subtract_rect(rings, geom.bbox(other))
    from cosmospark import clip

    return clip.subtract_polygon(rings, other)


# ---------------------------------------------------------------------------
# the Spark job


_NEW_ZONE_SCHEMA = T.StructType(
    [
        T.StructField("osm_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("zone_type", T.StringType()),
        T.StructField("parent", T.LongType()),
        T.StructField("rings", T.ArrayType(
            T.StructType(
                [
                    T.StructField("poly", T.IntegerType()),
                    T.StructField("ring", T.IntegerType()),
                    T.StructField("xs", T.ArrayType(T.DoubleType())),
                    T.StructField("ys", T.ArrayType(T.DoubleType())),
                ]
            )
        )),
        T.StructField("center_lon", T.DoubleType()),
        T.StructField("center_lat", T.DoubleType()),
    ]
)


def compute_additional_places(
    zones: DataFrame, places: DataFrame, max_new: int | None = None
) -> DataFrame:
    """places(osm_id, name, zone_type, lon, lat, tags, admin_level) →
    generated city zones (rings clipped Voronoi cells), NOT yet merged.

    Use ``publish_new_places`` to append them to the zone table with
    dense ids (additional_zones.rs:418-423).
    """
    spark = zones.sparkSession

    # (1) candidate places (additional_zones.rs:46-50)
    cand = places.filter(
        F.col("zone_type").isNotNull()
        & (
            (F.col("admin_level").isNull() & (F.col("zone_type") == "suburb"))
            | (F.col("tags")["capital"] == "yes")
        )
    )

    # (2) parent lookup: PIP into admin zones with type >= City
    parent_side = zones.filter(
        F.col("zone_type").isNotNull()
        & (F.col("zone_type") != "non_administrative")
        & (type_rank_expr() >= TYPE_RANK["city"])
        & F.col("rings").isNotNull()
    )
    with_parent = (
        assign_zones(cand, parent_side)
        .withColumnRenamed("zone_id", "parent")
        .filter(F.col("parent") >= 0)
    )

    # (3) parent-type constraints (additional_zones.rs:55-72)
    pmeta = zones.select(
        F.col("id").alias("parent"),
        F.col("zone_type").alias("p_type"),
        F.col("name").alias("p_name"),
    )
    ranked = with_parent.join(F.broadcast(pmeta), "parent").filter(
        (type_rank_expr("p_type") >= type_rank_expr("zone_type"))
        & (
            (type_rank_expr("p_type") < TYPE_RANK["country"])
            | (F.col("p_name") == F.col("name"))
        )
    )

    # (4)+(5) per-parent voronoi in applyInPandas; zone dim broadcast for
    # the subtraction candidates
    # ONE collect serves both the subtraction candidates and the parent
    # geometry lookup (round 1 collected the zone geometry twice)
    sub_rows = [
        r.asDict(recursive=True)
        for r in zones.filter(F.col("rings").isNotNull()).select(
            "id", "zone_type", "parent", "rings"
        ).collect()
    ]
    parent_geoms = {r["id"]: geom.rows_to_rings(r["rings"]) for r in sub_rows}
    bc_sub = spark.sparkContext.broadcast((sub_rows, parent_geoms))

    def _voronoi(key, pdf: pd.DataFrame) -> pd.DataFrame:
        sub_rows_, parent_geoms_ = bc_sub.value
        parent_id = int(key[0])
        parent_rings = parent_geoms_.get(parent_id)
        if parent_rings is None:
            return pd.DataFrame(columns=[f.name for f in _NEW_ZONE_SCHEMA.fields])
        px = pdf["lon"].to_numpy(dtype=np.float64)
        py = pdf["lat"].to_numpy(dtype=np.float64)
        if len(pdf) == 1:
            cells = [parent_rings]
        else:
            cells = voronoi_cells(px, py, parent_rings)
        out = []
        for i, cell in enumerate(cells):
            if not cell:
                continue
            ztype = pdf["zone_type"].iloc[i]
            # (4) subtract same-type zones and siblings that intersect
            for z in sub_rows_:
                if z["id"] == parent_id:
                    continue
                if not (
                    z["zone_type"] == ztype
                    or (z.get("parent") is not None and int(z["parent"]) == parent_id)
                ):
                    continue
                other = geom.rows_to_rings(z["rings"])
                if geom.intersects(cell, other):
                    cell = subtract_zone(cell, other)
                    if not cell:
                        break
            if not cell:
                continue
            out.append(
                {
                    "osm_id": pdf["osm_id"].iloc[i],
                    "name": pdf["name"].iloc[i],
                    "zone_type": ztype,
                    "parent": parent_id,
                    "rings": geom.rings_to_rows(cell),
                    "center_lon": float(px[i]),
                    "center_lat": float(py[i]),
                }
            )
        return pd.DataFrame(out, columns=[f.name for f in _NEW_ZONE_SCHEMA.fields])

    return ranked.groupBy("parent").applyInPandas(_voronoi, _NEW_ZONE_SCHEMA)


def type_rank_expr(col: str = "zone_type"):
    expr = F.lit(None).cast("int")
    for name, rank in sorted(TYPE_RANK.items()):
        expr = F.when(F.col(col) == name, F.lit(rank)).otherwise(expr)
    return expr


def publish_new_places(zones: DataFrame, new_zones: DataFrame) -> DataFrame:
    """Append generated zones with dense ids after the existing max
    (additional_zones.rs:418-423), normalized to the zone schema."""
    from pyspark.sql.window import Window

    base = int(zones.agg(F.max("id")).collect()[0][0]) + 1
    w = Window.orderBy("osm_id")
    prepared = (
        new_zones.withColumn("id", F.row_number().over(w) - 1 + F.lit(base))
        .withColumn("is_generated", F.lit(True))
        .withColumn("admin_level", F.lit(None).cast("int"))
        .withColumn(
            "center",
            F.struct(
                F.col("center_lon").alias("lon"), F.col("center_lat").alias("lat")
            ),
        )
        .drop("center_lon", "center_lat")
    )
    for col in zones.columns:
        if col not in prepared.columns:
            prepared = prepared.withColumn(col, F.lit(None).cast(zones.schema[col].dataType))
    return zones.unionByName(prepared.select(zones.columns))
