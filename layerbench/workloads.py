"""The workloads, each a fixed sequence of rounds over the public API.

A workload has a *set-up pass* (generate inputs, bulk-load them into a fresh
warehouse), an optional ``start`` (work that happens once after the passes,
such as starting a streaming query), and ``round(r)``, which issues the
round's operations through ``bench.op``.  The operations of round ``r`` and
the data they see depend only on the seed and ``r`` -- never on the clock --
so two runs with one seed perform the same operation sequence.

One closed-loop client issues one operation at a time.  Every answer is
checked against ``oracle`` after its timed interval.
"""

from __future__ import annotations

import os

import numpy as np

import gen
import oracle


def ids_of(bench):
    return lambda df: [r[0] for r in bench.collect(df.select("id"))]


def layer_bytes(layer) -> int:
    """Bytes of a layer's data files plus its manifest directory."""
    total = 0
    for d in (layer.path, layer.path + "_manifest"):
        for root, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files if f != "LOCK")
    return total


class Workload:
    name = ""
    #: timed rounds per second of ``--seconds``: the round count is a
    #: function of the arguments alone, sized so a run's timed phase lasts
    #: about ``--seconds`` on a 4-core host
    rounds_per_s = 1.0
    warm_rounds = 1
    #: set-up passes per run; set-up figures are medians over them
    setup_passes = 3

    def __init__(self, bench):
        self.bench = bench
        self.spark = bench.spark
        self.seed = bench.seed
        self.files: dict = {}

    def rng(self, stream):
        return gen.rng_for(self.seed, f"{self.name}/{stream}")

    def write_points(self, name, pts, parts):
        self.files[name] = gen.write_parquet_parts(
            gen.columns_table(pts), os.path.join(self.bench.inputs, name), parts)

    def write_polygons(self, name, rings):
        self.files[name] = gen.write_parquet_parts(
            gen.polygon_table(rings), os.path.join(self.bench.inputs, name), 1)

    def load_points(self, ctx, name):
        layer = ctx.create_point_layer(name, x="lon", y="lat")
        layer.add(self.spark.read.parquet(*self.files[name]))
        return layer

    def load_polygons(self, ctx, name):
        layer = ctx.create_wkt_layer(name)
        layer.add(self.spark.read.parquet(*self.files[name]), wkt="wkt")
        return layer

    def expect(self):
        """Reference answers needed before the first round (untimed)."""

    def start(self):
        """Once-only work after the set-up passes (counted as warm-up)."""

    def finish(self):
        """Once-only work after the timed rounds: records the store size."""


class SearchMixed(Workload):
    """Static clustered point layer + star-polygon zone layer; a round is
    six searches of fixed kinds.  Fixed per-query overhead (plan build,
    catalog/manifest/SFC pruning, job scheduling) dominates; nothing is
    written."""

    name = "search_mixed"
    rounds_per_s = 0.5
    warm_rounds = 3
    #: one pass more than the others: the bulk-load rate this workload
    #: reports is the median of the passes after the first
    setup_passes = 4
    N_POINTS, PARTS, CLUSTERS, SIGMA = 100_000, 4, 16, 1.0
    N_ZONES, ZONE_R = 48, 1.2
    WITHIN_KM, CQL_KM, K, BOX = 40.0, 120.0, 20, 0.5

    def inputs(self):
        self.pts = gen.clustered_points(self.rng("points"), self.N_POINTS,
                                        self.CLUSTERS, self.SIGMA)
        self.zones = gen.stars_near(self.rng("zones"), self.pts["centres"],
                                    self.N_ZONES, self.SIGMA, self.ZONE_R)
        self.write_points("points", self.pts, self.PARTS)
        self.write_polygons("zones", self.zones)

    def bulk_load(self, ctx):
        self.P = self.load_points(ctx, "points")
        self.Z = self.load_polygons(ctx, "zones")

    def bulk_rows(self):
        return self.N_POINTS + self.N_ZONES

    def round(self, r):
        g = self.rng(f"round{r}")
        c = self.pts["centres"][g.integers(self.CLUSTERS)]
        lon, lat = (float(v) for v in c + g.normal(0.0, 0.5 * self.SIGMA, 2))
        slon = float(g.uniform(gen.REGION[0] + 10, gen.REGION[2] - 10))
        probe = gen.star(lon, lat, 1.0, 0.45, 6, float(g.uniform(0, 6.28)))
        P, Z, p = self.P, self.Z, self.pts
        ids, xs, ys = p["id"], p["lon"], p["lat"]
        b = self.bench
        b.op("within_distance",
             lambda: P.within_distance(lon, lat, self.WITHIN_KM), ids_of(b),
             oracle.within_distance(ids, xs, ys, lon, lat, self.WITHIN_KM).check)
        b.op("closest_dense", lambda: P.closest(lon, lat, k=self.K), ids_of(b),
             oracle.closest(ids, xs, ys, lon, lat, self.K).check)
        h = self.BOX / 2
        b.op("bbox_search",
             lambda: P.bbox_search(lon - h, lat - h, lon + h, lat + h), ids_of(b),
             oracle.window(ids, xs, ys, lon - h, lat - h, lon + h, lat + h).check)
        b.op("intersects", lambda: Z.intersects(gen.ring_wkt(probe)), ids_of(b),
             oracle.polygons_intersecting(range(self.N_ZONES), self.zones,
                                          probe).check)
        b.op("closest_sparse",
             lambda: P.closest(slon, gen.VOID_LAT, k=self.K), ids_of(b),
             oracle.closest(ids, xs, ys, slon, gen.VOID_LAT, self.K).check)
        b.op("within_cql",
             lambda: P.within_distance(lon, lat, self.CQL_KM,
                                       cql="score >= 900"), ids_of(b),
             oracle.within_distance(ids, xs, ys, lon, lat, self.CQL_KM,
                                    mask=p["score"] >= 900).check)

    def finish(self):
        self.bench.store(self.P, self.N_POINTS)


class StreamIngest(Workload):
    """Writes beside reads on one layer.  A continuous ``stream_into_layer``
    query over a file source is started during set-up; each round lands
    one single-file batch and waits until its micro-batch is committed and
    the rows are queryable, then runs two searches on the newest rows and
    joins the batch's rows to a star-polygon zone layer (counted per zone;
    every cluster has the same zone arrangement, so the join does alike
    work whichever cluster a batch lands in).  Every ``COMPACT_EVERY``-th
    round also compacts and vacuums the layer, which streaming appends
    fragment; those rounds are a quarter of all rounds, away from the
    median's cut."""

    name = "stream_ingest"
    rounds_per_s = 0.6
    warm_rounds = 4
    N_BASE, PARTS, CLUSTERS, SIGMA = 40_000, 2, 12, 1.0
    ZONES_PER_CLUSTER, ZONE_OFFSET, ZONE_R = 4, 0.4, 0.5
    BATCH, BATCH_SIGMA, COMPACT_EVERY = 400, 0.3, 4
    BOX, WITHIN_KM = 0.6, 25.0

    def inputs(self):
        self.pts = gen.clustered_points(self.rng("points"), self.N_BASE,
                                        self.CLUSTERS, self.SIGMA)
        self.zones = gen.stars_around(self.rng("zones"), self.pts["centres"],
                                      self.ZONES_PER_CLUSTER, self.ZONE_OFFSET,
                                      self.ZONE_R)
        self.write_points("streamed", self.pts, self.PARTS)
        self.write_polygons("zones", self.zones)

    def bulk_load(self, ctx):
        self.S = self.load_points(ctx, "streamed")
        self.Z = self.load_polygons(ctx, "zones")
        self.cols = {k: [self.pts[k]] for k in ("id", "lon", "lat")}
        self.next_id = self.N_BASE

    def bulk_rows(self):
        return self.N_BASE + len(self.zones)

    def start(self):
        from spatial_spark.streaming.ingest import stream_into_layer
        self.src = os.path.join(self.bench.scratch, "stream_src")
        self.staging = os.path.join(self.bench.scratch, "stream_staging")
        os.makedirs(self.src)
        os.makedirs(self.staging)
        source = (self.spark.readStream
                  .schema("id long, lon double, lat double, score long")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(self.src))
        self.query = stream_into_layer(
            source, self.S, os.path.join(self.bench.scratch, "stream_ckpt"),
            x="lon", y="lat", available_now=False)

    def round(self, r):
        from pyspark.sql import functions as F
        from spatial_spark.operators.join import spatial_join

        g = self.rng(f"round{r}")
        c = self.pts["centres"][g.integers(self.CLUSTERS)]
        first = self.next_id
        batch = gen.batch_near(g, self.BATCH, float(c[0]), float(c[1]),
                               self.BATCH_SIGMA, first)
        self.next_id += self.BATCH
        staged = gen.write_parquet_parts(
            gen.columns_table(batch),
            os.path.join(self.staging, f"batch{r + 100:04d}"), 1)[0]
        landed = os.path.join(self.src, os.path.basename(staged))
        for k in self.cols:
            self.cols[k].append(batch[k])
        ids, xs, ys = (np.concatenate(self.cols[k]) for k in ("id", "lon", "lat"))
        S, Z, b, live = self.S, self.Z, self.bench, self.next_id
        if r == 0:
            self.first_timed_batch = self.query.lastProgress["batchId"] + 1

        def land_and_wait():
            os.rename(staged, landed)
            self.query.processAllAvailable()

        b.op("stream_batch", land_and_wait, None,
             lambda _: None if S.count() == live else
             f"layer has {S.count()} rows, expected {live}", rows=self.BATCH)
        lon, lat, h = float(c[0]), float(c[1]), self.BOX / 2
        win = (lon - h, lat - h, lon + h, lat + h)
        b.op("bbox_search", lambda: S.bbox_search(*win), ids_of(b),
             oracle.window(ids, xs, ys, *win).check)
        b.op("within_distance",
             lambda: S.within_distance(lon, lat, self.WITHIN_KM), ids_of(b),
             oracle.within_distance(ids, xs, ys, lon, lat, self.WITHIN_KM).check)
        b.op("join_zones",
             lambda: spatial_join(S.df().where(F.col("id") >= first), Z.df(),
                                  "intersects", a_all_points=True,
                                  b_all_rects=Z.all_rects),
             lambda df: {row[0]: row[1] for row in
                         b.collect(df.groupBy("b_id").count())},
             oracle.join_counts(batch["lon"], batch["lat"],
                                range(len(self.zones)), self.zones).check)
        if r % self.COMPACT_EVERY == self.COMPACT_EVERY - 1:
            b.op("compact", S.compact, None, lambda _: self.check_rows(live))
            b.op("vacuum", S.vacuum, None, lambda _: self.check_rows(live))

    def check_rows(self, live):
        """A scan of the layer finds ids 0 .. live - 1, each exactly once
        (``Layer.count`` answers from metadata, so it cannot see a lost or
        doubled row)."""
        from pyspark.sql import functions as F
        got = tuple(self.S.df().agg(F.count("id"), F.countDistinct("id"),
                                    F.min("id"), F.max("id")).first())
        want = (live, live, 0, live - 1)
        if got != want:
            return ("layer scan (rows, distinct ids, min id, max id) = "
                    f"{got}, expected {want}")
        return None

    def finish(self):
        self.progress = [p for p in self.query.recentProgress
                         if p["batchId"] >= self.first_timed_batch]
        self.query.stop()
        self.bench.store(self.S, self.next_id)


WORKLOADS = {w.name: w for w in (SearchMixed, StreamIngest)}
