"""Output checks. Each returns a list of error strings (empty = correct)
and works on plain Python rows, so the tests need no Spark session.

* ``check_zones`` — a ``generate`` run over the lux world: 198 zones,
  the golden level and zone-type counts, and every parent link equal
  to the nesting ``fixtures.lux_world`` builds.
* ``check_lux_assign`` — landed and rolled-up row counts equal the
  input, and each sampled row's ``zone_id`` equals a brute-force
  (rank, area, id) argmin of ``geom.pip_covers`` over every zone, with
  no cell index involved.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from cosmospark import fixtures, geom
from cosmospark.ztypes import TYPE_RANK

GOLDEN_LEVELS = {2: 1, 6: 13, 8: 105, 9: 79}
GOLDEN_TYPES = {"country": 1, "state_district": 13, "city": 105, "suburb": 79}
_LEVEL_TYPE = {int(level): t for _, level, t in fixtures.LUX_RULES_LEVELS}


def lux_parents() -> dict[str, str | None]:
    """osm_id → parent osm_id for every typed lux_world zone: the
    smallest rectangle of a coarser zone type that contains it."""
    typed = [z for z in fixtures.lux_world() if z["admin_level"] in _LEVEL_TYPE]

    def rect(z):
        b = z["bbox"]
        return b["minx"], b["miny"], b["maxx"], b["maxy"]

    def rank(z):
        return TYPE_RANK[_LEVEL_TYPE[z["admin_level"]]]

    out = {}
    for z in typed:
        x0, y0, x1, y1 = rect(z)
        best = None
        for p in typed:
            px0, py0, px1, py1 = rect(p)
            if rank(p) <= rank(z) or not (px0 <= x0 and py0 <= y0 and x1 <= px1 and y1 <= py1):
                continue
            key = ((px1 - px0) * (py1 - py0), rank(p))
            if best is None or key < best[0]:
                best = (key, p["osm_id"])
        out[z["osm_id"]] = best[1] if best else None
    return out


def check_zones(rows: list[dict]) -> list[str]:
    """``rows``: the generate output, each with id, osm_id,
    admin_level, zone_type and parent."""
    errs = []
    if len(rows) != 198:
        errs.append(f"{len(rows)} zones, expected 198")
    levels = dict(Counter(r["admin_level"] for r in rows))
    if levels != GOLDEN_LEVELS:
        errs.append(f"level counts {levels}")
    types = dict(Counter(r["zone_type"] for r in rows))
    if types != GOLDEN_TYPES:
        errs.append(f"zone-type counts {types}")
    osm_of = {r["id"]: r["osm_id"] for r in rows}
    got = {r["osm_id"]: osm_of.get(r["parent"]) if r["parent"] is not None else None for r in rows}
    want = lux_parents()
    bad = sorted(k for k in want if got.get(k, "missing") != want[k])
    if bad:
        errs.append(f"{len(bad)} wrong parent links, e.g. {bad[0]}: {got.get(bad[0], 'missing')} != {want[bad[0]]}")
    return errs


def _count_errors(n_input: int, n_landed: int, rollup_total: int) -> list[str]:
    errs = []
    if n_landed != n_input:
        errs.append(f"{n_landed} landed rows, expected {n_input}")
    if rollup_total != n_input:
        errs.append(f"rollup total {rollup_total}, expected {n_input}")
    return errs


def _compare(sample_pids, got: dict[int, int], want: np.ndarray) -> list[str]:
    bad = [
        (int(p), got.get(int(p)), int(w))
        for p, w in zip(sample_pids, want)
        if got.get(int(p)) != int(w)
    ]
    if not bad:
        return []
    p, g, w = bad[0]
    return [f"{len(bad)} of {len(sample_pids)} sampled rows wrong, e.g. pid {p}: {g} != {w}"]


def brute_force_zone(lon: np.ndarray, lat: np.ndarray, zones: list[dict]) -> np.ndarray:
    """(rank, area, id) argmin over every zone that covers the point;
    -1 where none does."""
    best = np.full(len(lon), -1, dtype=np.int64)
    best_key = [None] * len(lon)
    for z in zones:
        rings = geom.rows_to_rings(z["rings"])
        key = (TYPE_RANK.get(z["zone_type"], len(TYPE_RANK)), geom.area(rings), int(z["id"]))
        x0, y0, x1, y1 = geom.bbox(rings)
        near = np.nonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))[0]
        for i in near[geom.pip_covers(lon[near], lat[near], rings)]:
            if best_key[i] is None or key < best_key[i]:
                best_key[i] = key
                best[i] = key[2]
    return best


def check_lux_assign(
    sample: dict[str, np.ndarray], landed: dict[int, int], want: np.ndarray,
    n_input: int, n_landed: int, rollup_total: int,
) -> list[str]:
    """``sample``: pid/lon/lat arrays of the sampled input rows;
    ``landed``: pid → zone_id of those rows as read back; ``want``:
    ``brute_force_zone`` of the sample."""
    return _count_errors(n_input, n_landed, rollup_total) + _compare(sample["pid"], landed, want)
