"""Deterministic benchmark inputs.

Everything here is plain NumPy driven by one ``numpy.random.Generator``
seeded from ``--seed``: the same seed gives byte-identical arrays (and so
byte-identical input files), and no engine code is involved.  The seed
moves *where* data and queries sit; sizes, cluster spreads, query radii and
the dense/sparse mix are constants, so every seed asks for the same amount
of work.

Geometry stays inside ``REGION`` (well away from the poles and the
antimeridian).  ``VOID_LAT`` is a latitude with no data within several
hundred km, so a k-NN probe there finds nothing in its first window and
must take the engine's full-scan fallback.
"""

from __future__ import annotations

import math

import numpy as np

REGION = (-60.0, -30.0, 60.0, 30.0)
VOID_LAT = -42.0


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose): adding a stream never
    shifts the numbers another stream draws."""
    salt = int.from_bytes(stream.encode(), "little") % (1 << 61)
    return np.random.default_rng([int(seed), salt])


def clustered_points(rng, n: int, n_clusters: int, sigma: float,
                     background: float = 0.1, id0: int = 0) -> dict:
    """``n`` points: ``1 - background`` of them in equal-sized Gaussian
    clusters, the rest uniform over ``REGION``.  Returns column arrays
    (id, lon, lat, score) plus the cluster centres."""
    x0, y0, x1, y1 = REGION
    m = 3.0 * sigma
    cx = rng.uniform(x0 + m, x1 - m, n_clusters)
    cy = rng.uniform(y0 + m, y1 - m, n_clusters)
    n_bg = int(round(n * background))
    n_cl = n - n_bg
    which = np.arange(n_cl) % n_clusters
    lon = np.concatenate([cx[which] + rng.normal(0.0, sigma, n_cl),
                          rng.uniform(x0, x1, n_bg)])
    lat = np.concatenate([cy[which] + rng.normal(0.0, sigma, n_cl),
                          rng.uniform(y0, y1, n_bg)])
    lon = np.clip(lon, x0, x1)
    lat = np.clip(lat, y0, y1)
    order = rng.permutation(n)
    return {
        "id": np.arange(id0, id0 + n, dtype=np.int64),
        "lon": lon[order],
        "lat": lat[order],
        "score": rng.integers(0, 1000, n, dtype=np.int64),
        "centres": np.column_stack([cx, cy]),
    }


def batch_near(rng, n: int, lon: float, lat: float, sigma: float,
               id0: int) -> dict:
    """A small append batch around one location (ingest / stream rounds)."""
    x0, y0, x1, y1 = REGION
    return {
        "id": np.arange(id0, id0 + n, dtype=np.int64),
        "lon": np.clip(lon + rng.normal(0.0, sigma, n), x0, x1),
        "lat": np.clip(lat + rng.normal(0.0, sigma, n), y0, y1),
        "score": rng.integers(0, 1000, n, dtype=np.int64),
    }


def star(cx: float, cy: float, r_out: float, r_in: float, arms: int,
         phase: float) -> np.ndarray:
    """Closed star ring (counter-clockwise), shape (2*arms + 1, 2)."""
    k = np.arange(2 * arms)
    ang = phase + k * math.pi / arms
    r = np.where(k % 2 == 0, r_out, r_in)
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def stars_near(rng, centres: np.ndarray, n: int, spread: float,
               r_out: float) -> list:
    """``n`` star polygons, each around a random centre from ``centres``."""
    out = []
    for _ in range(n):
        c = centres[rng.integers(len(centres))]
        out.append(star(float(c[0] + rng.normal(0.0, spread)),
                        float(c[1] + rng.normal(0.0, spread)),
                        r_out, r_out * 0.45, int(rng.integers(5, 9)),
                        float(rng.uniform(0.0, 2.0 * math.pi))))
    return out


def stars_around(rng, centres: np.ndarray, per_centre: int, offset: float,
                 r_out: float) -> list:
    """``per_centre`` stars evenly spaced on a circle of radius ``offset``
    around each centre, the circle turned by a random angle: every centre
    gets the same arrangement, so work near any centre is alike."""
    out = []
    for cx, cy in centres:
        turn = rng.uniform(0.0, 2.0 * math.pi)
        for i in range(per_centre):
            a = turn + 2.0 * math.pi * i / per_centre
            out.append(star(float(cx + offset * math.cos(a)),
                            float(cy + offset * math.sin(a)),
                            r_out, r_out * 0.45, 6,
                            float(rng.uniform(0.0, 2.0 * math.pi))))
    return out


def ring_wkt(ring: np.ndarray) -> str:
    return "POLYGON((" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + "))"


def columns_table(cols: dict, names=("id", "lon", "lat", "score")):
    import pyarrow as pa
    return pa.table({k: cols[k] for k in names})


def polygon_table(rings: list, id0: int = 0):
    import pyarrow as pa
    return pa.table({
        "id": np.arange(id0, id0 + len(rings), dtype=np.int64),
        "wkt": [ring_wkt(r) for r in rings],
    })


def write_parquet_parts(table, path_prefix: str, parts: int) -> list:
    """Split ``table`` row-wise into ``parts`` parquet files (a bulk load
    from several files); returns the paths."""
    import pyarrow.parquet as pq
    n = table.num_rows
    paths = []
    for i in range(parts):
        lo, hi = i * n // parts, (i + 1) * n // parts
        p = f"{path_prefix}-{i:02d}.parquet"
        pq.write_table(table.slice(lo, hi - lo), p)
        paths.append(p)
    return paths
