"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed
writes byte-identical files, a different seed different points. The
program under test only ever sees the files written here.

* ``write_lux_pbf`` — the Luxembourg-shaped OSM world
  (``fixtures.lux_osm_world``) as a ``.osm.pbf``, plus seeded filler
  nodes and ways that carry no admin tags. Real extracts are mostly
  such objects, so the filler is what gives PBF decode and the
  dependency closure real work.
* ``write_lux_points`` — a skewed point table over the lux box: a
  ``skew`` share of the points falls in the two megacity communes,
  the same mix as ``fixtures.gen_images``.
* ``write_lux_zones`` — ``fixtures.detailed_lux_zones`` as parquet.

The zone table has no seed: it is fixed arithmetic.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cosmospark import fixtures, pbf

# filler ids start far above the lux world's own ids, so no id collides
FILLER_ID0 = 10_000_000
FILLER_NODE_TAGS = ["bench", "bicycle_parking", "waste_basket", "post_box", "bus_stop"]
FILLER_WAY_TAGS = ["residential", "service", "footway", "track", "unclassified"]

POINT_FILES = 16  # files per table, so a scan is split across tasks


def _lux_world_tables() -> tuple[list, list, list]:
    """lux_osm_world as the (nodes, ways, relations) lists write_osm_pbf
    takes; relation members carry their ways then their nodes."""
    w = fixtures.lux_osm_world()
    members: dict[int, list] = {}
    for rid, wid, role in w["rel_members"]:
        members.setdefault(rid, []).append(("way", wid, role))
    for rid, nid, role in w["rel_node_members"]:
        members.setdefault(rid, []).append(("node", nid, role))
    nodes = list(w["nodes"])
    ways = [(wid, refs, {}) for wid, refs in w["ways"]]
    relations = [(rid, tags, members.get(rid, [])) for rid, tags in w["relations"]]
    return nodes, ways, relations


def write_lux_pbf(path: str, seed: int, n_nodes: int, n_ways: int) -> dict:
    """Write the lux world plus ``n_nodes`` filler nodes and ``n_ways``
    filler ways (2-8 filler nodes each) → object counts."""
    nodes, ways, relations = _lux_world_tables()
    rng = np.random.default_rng(seed)
    x0, y0 = fixtures.LUX_X0, fixtures.LUX_Y0
    lon = rng.uniform(x0, x0 + fixtures.LUX_W, n_nodes)
    lat = rng.uniform(y0, y0 + fixtures.LUX_H, n_nodes)
    tagged = rng.random(n_nodes) < 0.2
    tag_pick = rng.integers(0, len(FILLER_NODE_TAGS), n_nodes)
    for i in range(n_nodes):
        tags = {"amenity": FILLER_NODE_TAGS[tag_pick[i]]} if tagged[i] else {}
        nodes.append((FILLER_ID0 + i, float(lon[i]), float(lat[i]), tags))
    lengths = rng.integers(2, 9, n_ways)
    refs = rng.integers(0, n_nodes, int(lengths.sum())) + FILLER_ID0
    kind = rng.integers(0, len(FILLER_WAY_TAGS), n_ways)
    pos = 0
    for i in range(n_ways):
        k = int(lengths[i])
        ways.append(
            (FILLER_ID0 + i, [int(r) for r in refs[pos : pos + k]],
             {"highway": FILLER_WAY_TAGS[kind[i]]})
        )
        pos += k
    pbf.write_osm_pbf(path, nodes, ways, relations, nodes_per_block=8000)
    return {"nodes": len(nodes), "ways": len(ways), "relations": len(relations)}


def _write_points(path: str, lon: np.ndarray, lat: np.ndarray) -> None:
    """(pid, lon, lat) in POINT_FILES parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    n = len(lon)
    pid = np.arange(n, dtype=np.int64)
    bounds = np.linspace(0, n, POINT_FILES + 1).astype(np.int64)
    for k in range(POINT_FILES):
        s, e = int(bounds[k]), int(bounds[k + 1])
        t = pa.table({"pid": pid[s:e], "lon": lon[s:e], "lat": lat[s:e]})
        pq.write_table(t, os.path.join(path, f"part-{k:05d}.parquet"))


# the two megacity communes of fixtures.gen_images
MEGACITIES = (
    (fixtures.LUX_X0 + 0.0, fixtures.LUX_Y0 + 0.0, fixtures.LUX_X0 + 1.0, fixtures.LUX_Y0 + 1.25),
    (fixtures.LUX_X0 + 6.0, fixtures.LUX_Y0 + 5.0, fixtures.LUX_X0 + 7.0, fixtures.LUX_Y0 + 6.25),
)


def lux_points(seed: int, n: int, skew: float = 0.7) -> tuple[np.ndarray, np.ndarray]:
    """A ``skew`` share of the points in the megacities (alternating),
    the rest uniform over the lux box."""
    rng = np.random.default_rng(seed)
    hot = rng.random(n) < skew
    box = np.array(MEGACITIES)[np.arange(n) % 2]
    u, v = rng.random(n), rng.random(n)
    lon = np.where(
        hot, box[:, 0] + u * (box[:, 2] - box[:, 0]), fixtures.LUX_X0 + u * fixtures.LUX_W
    )
    lat = np.where(
        hot, box[:, 1] + v * (box[:, 3] - box[:, 1]), fixtures.LUX_Y0 + v * fixtures.LUX_H
    )
    return lon, lat


def write_lux_points(path: str, seed: int, n: int) -> None:
    _write_points(path, *lux_points(seed, n))


_STR_MAP = pa.map_(pa.string(), pa.string())
_XY = pa.list_(pa.float64())
# cosmospark.ztypes.ZONES_RAW_SCHEMA in Arrow terms
ZONES_ARROW = pa.schema(
    [
        pa.field("id", pa.int64(), nullable=False),
        pa.field("osm_id", pa.string(), nullable=False),
        ("admin_level", pa.int32()),
        ("zone_type", pa.string()),
        ("name", pa.string()),
        ("tags", _STR_MAP),
        ("center_tags", _STR_MAP),
        ("center", pa.struct([("lon", pa.float64()), ("lat", pa.float64())])),
        ("rings", pa.list_(pa.struct(
            [("poly", pa.int32()), ("ring", pa.int32()), ("xs", _XY), ("ys", _XY)]
        ))),
        ("bbox", pa.struct([(k, pa.float64()) for k in ("minx", "miny", "maxx", "maxy")])),
        ("is_generated", pa.bool_()),
    ]
)


def write_lux_zones(path: str, n_vertices: int) -> None:
    """``fixtures.detailed_lux_zones`` as one parquet file (no seed)."""
    os.makedirs(path, exist_ok=True)
    t = pa.Table.from_pylist(fixtures.detailed_lux_zones(n_vertices), schema=ZONES_ARROW)
    pq.write_table(t, os.path.join(path, "part-00000.parquet"))
