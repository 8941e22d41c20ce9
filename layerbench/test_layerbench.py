"""Tests of the benchmark itself.

    python3 -m pytest layerbench/test_layerbench.py -q

The generator and oracle tests take seconds.  The repeatability tests run
the benchmark twice per workload (about a minute per run) and check that
one seed gives one operation sequence, one ``store_bytes_per_row`` and one
Spark job count per round.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402


# ---- generator ---------------------------------------------------------------

class _Bench:
    def __init__(self, seed, inputs):
        self.seed, self.inputs, self.spark = seed, inputs, None


def _input_digest(name, seed, inputs):
    wl = workloads.WORKLOADS[name](_Bench(seed, str(inputs)))
    wl.inputs()
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(inputs, "*.parquet"))):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_generator_is_byte_identical_per_seed(name, tmp_path):
    dirs = [tmp_path / d for d in ("a", "b", "c")]
    for d in dirs:
        d.mkdir()
    a = _input_digest(name, 11, dirs[0])
    assert a == _input_digest(name, 11, dirs[1])
    assert a != _input_digest(name, 12, dirs[2])


def test_round_inputs_depend_only_on_seed_and_round():
    draw = [gen.rng_for(5, "w/round3").normal(size=4) for _ in range(2)]
    assert np.array_equal(draw[0], draw[1])
    assert not np.array_equal(draw[0], gen.rng_for(5, "w/round4").normal(size=4))


# ---- oracle against brute force --------------------------------------------

def _haversine(lon0, lat0, lon1, lat1):
    p0, p1 = math.radians(lat0), math.radians(lat1)
    h = (math.sin((p1 - p0) / 2) ** 2 + math.cos(p0) * math.cos(p1)
         * math.sin(math.radians(lon1 - lon0) / 2) ** 2)
    return 2 * 6371.0 * math.asin(math.sqrt(h))


def _pip(x, y, ring):
    inside = False
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        if (ay > y) != (by > y) and x < ax + (y - ay) * (bx - ax) / (by - ay):
            inside = not inside
    return inside


def _segments_cross(p, q, r, s):
    def orient(a, b, c):
        return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    return (orient(p, q, r) * orient(p, q, s) < 0
            and orient(r, s, p) * orient(r, s, q) < 0)


@pytest.fixture
def small():
    rng = np.random.default_rng(3)
    pts = gen.clustered_points(rng, 400, 3, 1.0)
    return rng, pts


def test_within_window_and_closest_match_brute_force(small):
    rng, p = small
    ids, xs, ys = p["id"], p["lon"], p["lat"]
    for _ in range(10):
        lon, lat = (float(v) for v in p["centres"][rng.integers(3)])
        km = float(rng.uniform(10, 200))
        d = {int(i): _haversine(lon, lat, x, y) for i, x, y in zip(ids, xs, ys)}
        want = {i for i, v in d.items() if v <= km}
        e = oracle.within_distance(ids, xs, ys, lon, lat, km)
        assert e.check(sorted(want)) is None
        assert e.check(sorted(want)[1:] if want else [0]) is not None
        k = int(rng.integers(1, 30))
        near = sorted(d, key=d.get)[:k]
        e = oracle.closest(ids, xs, ys, lon, lat, k)
        assert e.check(near) is None
        assert e.check(sorted(d, key=d.get)[1:k + 1]) is not None
        x0, y0 = lon - 0.5, lat - 0.4
        inbox = [int(i) for i, x, y in zip(ids, xs, ys)
                 if x0 <= x <= x0 + 1 and y0 <= y <= y0 + 0.8]
        assert oracle.window(ids, xs, ys, x0, y0, x0 + 1, y0 + 0.8).check(inbox) is None


def test_nearest_accepts_any_choice_among_ties():
    ids = np.arange(5)
    dist = np.array([1.0, 2.0, 2.0, 2.0, 5.0])
    e = oracle.Nearest(ids, dist, 2)
    assert e.check([0, 1]) is None and e.check([0, 3]) is None
    assert e.check([1, 2]) is not None


def test_polygon_oracles_match_brute_force(small):
    rng, p = small
    ids, xs, ys = p["id"], p["lon"], p["lat"]
    stars = gen.stars_near(rng, p["centres"], 12, 1.0, 1.2)
    for ring in stars:
        want = [int(i) for i, x, y in zip(ids, xs, ys) if _pip(x, y, ring)]
        assert oracle.polygon_points(ids, xs, ys, ring).check(want) is None
    probe = stars[0]
    for ring in stars[1:]:
        cross = any(_segments_cross(a, b, c, d)
                    for a, b in zip(ring[:-1], ring[1:])
                    for c, d in zip(probe[:-1], probe[1:]))
        inside = (any(_pip(x, y, probe) for x, y in ring[:-1])
                  or any(_pip(x, y, ring) for x, y in probe[:-1]))
        hit, near = oracle.rings_intersect(ring, probe)
        assert near or hit == (cross or inside)


def test_join_counts_match_brute_force(small):
    rng, p = small
    xs, ys = p["lon"], p["lat"]
    stars = gen.stars_around(rng, p["centres"], 4, 0.4, 0.5)
    counts = oracle.join_counts(xs, ys, range(len(stars)), stars)
    brute = {}
    for j, ring in enumerate(stars):
        n = sum(1 for x, y in zip(xs, ys) if _pip(x, y, ring))
        if n:
            brute[j] = n
    assert brute and counts.check(brute) is None
    j = next(iter(brute))
    brute[j] += 1
    assert counts.check(brute) is not None


# ---- repeatability of whole runs --------------------------------------------

def _traced_run(name, seed):
    root = os.path.dirname(HERE)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=root, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0
    with open(os.path.join(HERE, "_out", f"spans_{name}_{seed}.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_one_seed_repeats_operations_store_bytes_and_jobs(name):
    a, b = (_traced_run(name, 5) for _ in range(2))
    assert a["ops"] == b["ops"]
    assert a["e2e"]["store_bytes_per_row"] == b["e2e"]["store_bytes_per_row"]
    assert ([r["spark.jobs"] for r in a["rounds"]]
            == [r["spark.jobs"] for r in b["rounds"]])
