"""Reference answers computed from the generated arrays alone.

Nothing here imports the engine.  Every check returns ``None`` when the
engine's answer is acceptable and a short reason otherwise.

Slack is allowed in exactly two places:

* rows within ``TOL_KM`` of a distance limit, or within ``TOL_DEG`` of a
  window edge or polygon boundary, may be in or out of the answer
  (floating-point formulas legitimately disagree there);
* for k-nearest answers, any choice among rows tied (within ``TOL_KM``)
  at the k-th distance is accepted.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_KM = 6371.0
TOL_KM = 1e-6
TOL_DEG = 1e-9


def sphere_km(lon0, lat0, lons, lats) -> np.ndarray:
    """Great-circle distance in km (haversine form, sphere R = 6371)."""
    p0, p1 = np.radians(lat0), np.radians(np.asarray(lats, dtype=float))
    dp = p1 - p0
    dl = np.radians(np.asarray(lons, dtype=float) - lon0)
    h = np.sin(dp / 2) ** 2 + np.cos(p0) * np.cos(p1) * np.sin(dl / 2) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


class Expected:
    """An answer set with slack: ``must`` ids are required, ``may`` ids
    are tolerated, anything else is wrong."""

    def __init__(self, must, may=()):
        self.must = {int(i) for i in must}
        self.may = {int(i) for i in may}

    def check(self, got) -> str | None:
        got = [int(i) for i in got]
        s = set(got)
        if len(s) != len(got):
            return f"{len(got) - len(s)} duplicate ids"
        missing = self.must - s
        extra = s - self.must - self.may
        if missing or extra:
            return (f"{len(missing)} missing (e.g. {sorted(missing)[:3]}), "
                    f"{len(extra)} unexpected (e.g. {sorted(extra)[:3]})")
        return None


def within_distance(ids, lons, lats, lon, lat, km, mask=None) -> Expected:
    d = sphere_km(lon, lat, lons, lats)
    ok = np.ones(len(d), bool) if mask is None else mask
    return Expected(ids[ok & (d < km - TOL_KM)],
                    ids[ok & (np.abs(d - km) <= TOL_KM)])


def window(ids, lons, lats, x0, y0, x1, y1) -> Expected:
    inner = ((lons > x0 + TOL_DEG) & (lons < x1 - TOL_DEG)
             & (lats > y0 + TOL_DEG) & (lats < y1 - TOL_DEG))
    outer = ((lons >= x0 - TOL_DEG) & (lons <= x1 + TOL_DEG)
             & (lats >= y0 - TOL_DEG) & (lats <= y1 + TOL_DEG))
    return Expected(ids[inner], ids[outer & ~inner])


class Nearest:
    """k-nearest answer with ties at the k-th distance."""

    def __init__(self, ids, dist, k):
        order = np.argsort(dist, kind="stable")
        self.n = min(k, len(order))
        if self.n == 0:
            self.must, self.allowed = set(), set()
            return
        dk = dist[order[self.n - 1]]
        self.must = {int(i) for i in ids[dist < dk - TOL_KM]}
        self.allowed = {int(i) for i in ids[dist <= dk + TOL_KM]}

    def check(self, got) -> str | None:
        got = [int(i) for i in got]
        s = set(got)
        if len(got) != self.n or len(s) != len(got):
            return f"{len(got)} rows ({len(s)} distinct), expected {self.n}"
        if not self.must <= s or not s <= self.allowed:
            return (f"{len(self.must - s)} nearer rows missing, "
                    f"{len(s - self.allowed)} rows beyond the k-th distance")
        return None


def closest(ids, lons, lats, lon, lat, k) -> Nearest:
    return Nearest(ids, sphere_km(lon, lat, lons, lats), k)


# ---- planar geometry ------------------------------------------------------

def _seg_dist(px, py, ax, ay, bx, by) -> np.ndarray:
    """Distance from points (px, py) to segments a-b (broadcasting)."""
    dx, dy = bx - ax, by - ay
    L = dx * dx + dy * dy
    t = np.clip(((px - ax) * dx + (py - ay) * dy) / np.where(L > 0, L, 1.0),
                0.0, 1.0)
    return np.hypot(px - (ax + t * dx), py - (ay + t * dy))


def points_in_ring(px, py, ring):
    """(inside, near_boundary) boolean arrays for points against one
    closed ring (crossing-number rule)."""
    ax, ay = ring[:-1, 0], ring[:-1, 1]
    bx, by = ring[1:, 0], ring[1:, 1]
    px, py = np.asarray(px)[:, None], np.asarray(py)[:, None]
    crosses = (ay > py) != (by > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = ax + (py - ay) * (bx - ax) / (by - ay)
    inside = np.count_nonzero(crosses & (px < xint), axis=1) % 2 == 1
    near = np.any(_seg_dist(px, py, ax, ay, bx, by) <= TOL_DEG, axis=1)
    return inside, near


def polygon_points(ids, lons, lats, ring, order=None) -> Expected:
    """Points that intersect the polygon (boundary included).  ``order``
    (``argsort`` of ``lons``) lets many polygons share one sort."""
    x0, y0 = ring.min(axis=0) - TOL_DEG
    x1, y1 = ring.max(axis=0) + TOL_DEG
    if order is None:
        order = np.argsort(lons, kind="stable")
    lo, hi = np.searchsorted(lons[order], [x0, x1], side="left")
    cand = order[lo:hi + np.count_nonzero(lons[order[hi:]] == x1)]
    cand = cand[(lats[cand] >= y0) & (lats[cand] <= y1)]
    inside, near = points_in_ring(lons[cand], lats[cand], ring)
    sub = ids[cand]
    return Expected(sub[inside & ~near], sub[near])


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def rings_intersect(a: np.ndarray, b: np.ndarray):
    """(intersects, near) for two simple polygons given as closed rings:
    they intersect when an edge of one crosses an edge of the other or a
    vertex of one lies inside the other.  ``near`` flags pairs whose
    boundaries come within ``TOL_DEG`` without a clear crossing."""
    if (a[:, 0].max() < b[:, 0].min() - TOL_DEG
            or b[:, 0].max() < a[:, 0].min() - TOL_DEG
            or a[:, 1].max() < b[:, 1].min() - TOL_DEG
            or b[:, 1].max() < a[:, 1].min() - TOL_DEG):
        return False, False
    p, q = a[:-1, None, :], a[1:, None, :]
    r, s = b[None, :-1, :], b[None, 1:, :]
    d1 = _orient(p[..., 0], p[..., 1], q[..., 0], q[..., 1], r[..., 0], r[..., 1])
    d2 = _orient(p[..., 0], p[..., 1], q[..., 0], q[..., 1], s[..., 0], s[..., 1])
    d3 = _orient(r[..., 0], r[..., 1], s[..., 0], s[..., 1], p[..., 0], p[..., 1])
    d4 = _orient(r[..., 0], r[..., 1], s[..., 0], s[..., 1], q[..., 0], q[..., 1])
    if np.any((d1 * d2 < 0) & (d3 * d4 < 0)):
        return True, False
    ia, na = points_in_ring(b[:-1, 0], b[:-1, 1], a)
    ib, nb = points_in_ring(a[:-1, 0], a[:-1, 1], b)
    if np.any(ia & ~na) or np.any(ib & ~nb):
        return True, False
    near = bool(na.any() or nb.any())
    if not near:
        for (ax, ay), (bx, by) in zip(b[:-1], b[1:]):
            if np.any(_seg_dist(a[:, 0], a[:, 1], ax, ay, bx, by) <= TOL_DEG):
                near = True
                break
    return False, near


def polygons_intersecting(ids, rings, probe) -> Expected:
    must, may = [], []
    for i, ring in zip(ids, rings):
        hit, near = rings_intersect(ring, probe)
        (must if hit else may if near else []).append(i)
    return Expected(must, may)


class Counts:
    """Per-key counts with slack: key -> (lo, hi)."""

    def __init__(self, bounds: dict):
        self.bounds = bounds

    def check(self, got: dict) -> str | None:
        bad = [k for k in set(got) | set(self.bounds)
               if not (self.bounds.get(k, (0, 0))[0] <= got.get(k, 0)
                       <= self.bounds.get(k, (0, 0))[1])]
        if bad:
            k = sorted(bad)[0]
            return (f"{len(bad)} keys with wrong counts (e.g. {k}: got "
                    f"{got.get(k, 0)}, want {self.bounds.get(k, (0, 0))})")
        return None


def join_counts(pt_lons, pt_lats, poly_ids, rings) -> Counts:
    """Points per polygon for a point-in-polygon join (boundary points
    may count or not)."""
    bounds = {}
    order = np.argsort(pt_lons, kind="stable")
    idx = np.arange(len(pt_lons))
    for pid, ring in zip(poly_ids, rings):
        e = polygon_points(idx, pt_lons, pt_lats, ring, order)
        if e.must or e.may:
            bounds[int(pid)] = (len(e.must), len(e.must) + len(e.may))
    return Counts(bounds)
