"""Tests of the benchmark's own parts: seeded inputs and output checks.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pytest

import checks
import inputs
from cosmospark import fixtures


def _tree_bytes(path: str) -> dict[str, bytes]:
    if os.path.isfile(path):
        return {"": open(path, "rb").read()}
    return {n: open(os.path.join(path, n), "rb").read() for n in sorted(os.listdir(path))}


@pytest.mark.parametrize(
    "write",
    [
        lambda p, s: inputs.write_lux_pbf(p, s, 2_000, 400),
        lambda p, s: inputs.write_lux_points(p, s, 5_000),
    ],
    ids=["lux_pbf", "lux_points"],
)
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, write):
    write(str(tmp_path / "a"), 7)
    write(str(tmp_path / "b"), 7)
    write(str(tmp_path / "c"), 8)
    a, b, c = (_tree_bytes(str(tmp_path / k)) for k in "abc")
    assert a == b
    assert a != c


def test_other_seed_moves_points():
    lon7, lat7 = inputs.lux_points(7, 1000)
    lon8, lat8 = inputs.lux_points(8, 1000)
    assert not np.array_equal(lon7, lon8) and not np.array_equal(lat7, lat8)
    # the megacity skew holds: ~70 % of the points in the two communes
    in_mega = np.zeros(1000, dtype=bool)
    for x0, y0, x1, y1 in inputs.MEGACITIES:
        in_mega |= (lon7 >= x0) & (lon7 <= x1) & (lat7 >= y0) & (lat7 <= y1)
    assert 0.65 < in_mega.mean() < 0.8


def test_unseeded_zone_table_is_byte_stable(tmp_path):
    for k in "ab":
        inputs.write_lux_zones(str(tmp_path / k), 64)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))


def test_lux_parents_follow_the_fixture_nesting():
    want = checks.lux_parents()
    assert len(want) == 198
    assert want["relation:2171347"] is None
    assert want["relation:3000"] == "relation:2171347"
    assert want["relation:4000"] == "relation:3000"
    assert want["relation:4104"] == "relation:3000"  # same-type nesting skips a level
    assert want["relation:5000"] == "relation:4000"


def _generate_rows():
    """What a correct generate run writes, reduced to the checked fields."""
    level_type = {2: "country", 6: "state_district", 8: "city", 9: "suburb"}
    typed = [z for z in fixtures.lux_world() if z["admin_level"] in level_type]
    ids = {z["osm_id"]: i for i, z in enumerate(typed)}
    parents = checks.lux_parents()
    return [
        {
            "id": ids[z["osm_id"]],
            "osm_id": z["osm_id"],
            "admin_level": z["admin_level"],
            "zone_type": level_type[z["admin_level"]],
            "parent": ids.get(parents[z["osm_id"]]),
        }
        for z in typed
    ]


def test_zone_check_passes_and_catches_faults():
    rows = _generate_rows()
    assert checks.check_zones(rows) == []
    assert checks.check_zones(rows[:-1])  # a missing zone row
    bad = [dict(r) for r in rows]
    bad[5]["parent"] = bad[6]["id"]  # one corrupted parent link
    assert checks.check_zones(bad)
    bad = [dict(r) for r in rows]
    bad[0]["zone_type"] = "state"
    assert checks.check_zones(bad)


def test_lux_assign_check_passes_and_catches_faults():
    zones = fixtures.detailed_lux_zones(64)
    lon, lat = inputs.lux_points(3, 400)
    sample = {"pid": np.arange(400), "lon": lon, "lat": lat}
    want = checks.brute_force_zone(lon, lat, zones)
    assert (want >= 0).all()  # the country covers the whole box
    landed = {int(p): int(z) for p, z in zip(sample["pid"], want)}
    assert checks.check_lux_assign(sample, landed, want, 1000, 1000, 1000) == []
    corrupt = dict(landed)
    corrupt[17] = (corrupt[17] + 1) % 198
    assert checks.check_lux_assign(sample, corrupt, want, 1000, 1000, 1000)
    missing = dict(landed)
    del missing[17]
    assert checks.check_lux_assign(sample, missing, want, 1000, 1000, 1000)
    assert checks.check_lux_assign(sample, landed, want, 1000, 999, 1000)
    assert checks.check_lux_assign(sample, landed, want, 1000, 1000, 999)


def test_brute_force_agrees_with_the_zone_index():
    from cosmospark.assign import ZoneIndex

    zones = fixtures.detailed_lux_zones(64)
    lon, lat = inputs.lux_points(5, 2000)
    assert np.array_equal(checks.brute_force_zone(lon, lat, zones), ZoneIndex(zones).assign(lon, lat))


def test_runner_refuses_a_directory_without_cosmospark(tmp_path):
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    p = subprocess.run(
        [sys.executable, run, "--workload", "generate_lux", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
