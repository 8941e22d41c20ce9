"""Layer benchmark for spatial_spark: one (workload, seed) per process.

    python3 layerbench/run.py --workload search_mixed --seed 1 --seconds 12 --trace 0

Run from the repository root.  Each run starts a fresh ``local[n]`` session
(n = min(4, cores)) in a fresh JVM, generates its inputs from the seed,
sets up several times (the median set-up is reported), then drives the
public ``SpatialContext``/``Layer``/join/streaming API from one closed-loop
client for a fixed number of rounds: ``ceil(seconds * rounds_per_s)`` of the
workload, never a clock-bounded loop.  Every answer is checked against
``oracle``.  Timed figures are scaled to a reference host speed measured
by ``probe_ms`` (before every round, and after every set-up pass for the
set-up figures), in a session of its own whose SQL settings are pinned
here (see README.md).

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``.  The line before it, starting with
``# info``, carries the host's steal share and, for a traced run, the
end-to-end values measured with tracing on (the A/A tool reads both).

Everything the run writes goes to a per-run directory under
``layerbench/_tmp`` that is removed at exit; traced runs also leave their
spans in ``layerbench/_out``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: reference probe time: timed figures are reported as if ``probe_ms``
#: had taken this long (it takes about 170 ms on a quiet 4-core host;
#: only the scale of the figures depends on it)
PROBE_REF_MS = 120.0
#: timed figures are scaled by ``(PROBE_REF_MS / probe) ** SPEED_EXP``: a
#: round does not slow down in proportion to the probe when the host is
#: busy (in A/A runs with host steal up to 23 %, log round time rose about
#: 0.7-0.8 times as fast as log probe time, and scaling by the full ratio
#: turned the figures down as steal rose)
SPEED_EXP = 0.75
#: every SQL setting the probe's plan depends on, pinned in the probe's
#: own session: a change to the engine's session settings
#: (``spatial_spark.session``) or to the settings a workload leaves behind
#: must not move the probe, or the scaling would cancel it
PROBE_CONF = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
    "spark.sql.codegen.wholeStage": "true",
}
CORES = min(4, os.cpu_count() or 1)


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat; zeros where unavailable."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return 0, 0


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """Drives one workload and measures it.  ``op`` is the only way a
    workload issues an operation: it times ``call`` (and ``action`` on its
    result), then checks the answer outside the timed interval."""

    def __init__(self, args, scratch):
        self.seed = args.seed
        self.scratch = scratch
        self.inputs = None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.round_ms = 0.0
        self.op_ms: list = []
        self.ingest_rows = 0
        self.ingest_s = 0.0
        self.store_bytes_per_row = None
        self.op_log: list = []

    def collect(self, df):
        self.last_df = df
        return df.collect()

    def _timed(self, kind, call, action):
        t0 = time.perf_counter()
        try:
            res = call()
            if action is not None:
                res = action(res)
            return res, time.perf_counter() - t0, None
        except Exception as e:      # counted as a failed operation
            return None, time.perf_counter() - t0, e

    def op(self, kind, call, action, check, rows=None):
        self.attempted += 1
        self.op_log.append((self.round_id, kind))
        res, dt, exc = self._timed(kind, call, action)
        self.round_ms += dt * 1e3
        self.op_ms.append(dt * 1e3)
        if rows is not None:
            self.ingest_rows += rows
            self.ingest_s += dt
        err = (f"raised {exc!r}" if exc is not None
               else check(res))
        if err is not None:
            self.failed += 1
            log(f"FAILED {kind} (round {self.round_id}): {err}")
            if exc is not None:
                log("".join(traceback.format_exception(exc)))

    def store(self, layer, live_rows):
        from workloads import layer_bytes
        self.store_bytes_per_row = layer_bytes(layer) / live_rows


class TracedBench(Bench):
    """Adds spans, per-call counters and per-round Spark counters."""

    def __init__(self, args, scratch):
        super().__init__(args, scratch)
        self.calls: dict = {}       # op kind -> list of per-call dicts
        self.rounds: list = []      # per-round counter dicts

    def _timed(self, kind, call, action):
        tr = self.tracer
        self.last_df = None
        with tr.span(kind) as top:
            with tr.span(f"{kind}.build") as b:
                t0 = time.perf_counter()
                try:
                    res = call()
                    exc = None
                except Exception as e:
                    res, exc = None, e
            if exc is None and action is not None:
                with tr.span(f"{kind}.action"):
                    try:
                        res = action(res)
                    except Exception as e:
                        exc = e
            dt = time.perf_counter() - t0
        top["attrs"]["rows_out"] = len(res) if isinstance(res, (list, dict)) else 0
        self.pending.append((kind, top, b, self.last_df, res))
        return res, dt, exc

    def begin_round(self, r):
        self.round_id = r
        self.tracer.round = r
        self.pending = []
        self.stream_jobs_before = self._stream_jobs()

    def _stream_jobs(self):
        q = getattr(self.workload, "query", None)
        if q is None:
            return set()
        return set(self.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(str(q.runId)))

    def end_round(self, r):
        from tracing import candidate_pairs, plan_nodes
        tr = self.tracer
        tr.drain()
        spans = [s for s in tr.spans if s["round"] == r]
        groups = [s["group"] for s in spans if s["group"]]
        stream_new = self._stream_jobs() - self.stream_jobs_before
        counters = tr.job_counters(groups, stream_new)
        counters["round"] = r
        counters["geom.python_rows"] = tr.python_rows_since_last()
        for name in ("catalog.reads", "manifest.files_planned",
                     "manifest.files_total"):
            counters[name] = tr.counts.get((r, name), 0.0)
        by_id = {s["id"]: s for s in spans}

        def under(span_id):
            out = []
            for s in spans:
                p = s["parent"]
                while p is not None and p != span_id:
                    p = by_id[p]["parent"] if p in by_id else None
                if p == span_id:
                    out.append(s)
            return out

        for kind, top, build, df, res in self.pending:
            sub = under(top["id"])
            rec = {
                "ms": (top["end"] - top["start"]) * 1e3,
                "build_ms": (build["end"] - build["start"]) * 1e3,
                "action_ms": (top["end"] - build["end"]) * 1e3,
                "build_jobs": tr.job_counters(
                    [build["group"]] + [s["group"] for s in under(build["id"])
                                        if s["group"]])["spark.jobs"],
                "rows_out": top["attrs"]["rows_out"],
                "layer_df": sum(s["attrs"].get("layer.df", 0)
                                for s in [top] + sub),
            }
            if isinstance(res, dict):
                rec["rows_out"] = sum(res.values())
            if df is not None and kind in JOIN_OPS:
                rec["candidate_pairs"] = candidate_pairs(plan_nodes(df))
            self.calls.setdefault(kind, []).append(rec)
        # layer calls, also those a streaming query makes on its own thread
        for s in spans:
            if s["name"].startswith("layer."):
                inner = under(s["id"])
                commits = [c for c in inner if c["name"] == "manifest.commit"]
                self.calls.setdefault(s["name"], []).append({
                    "ms": (s["end"] - s["start"]) * 1e3,
                    "jobs": tr.job_counters(
                        [c["group"] for c in [s] + inner if c["group"]]
                    )["spark.jobs"],
                    "files_written": sum(c["attrs"].get("files_written", 0)
                                         for c in commits),
                    "bytes_written": sum(c["attrs"].get("bytes_written", 0)
                                         for c in commits),
                })
        commits = [s for s in tr.spans if s["round"] == r
                   and s["name"] == "manifest.commit"]
        counters["manifest.commit_ms"] = sum(
            (s["end"] - s["start"]) * 1e3 for s in commits)
        sfc = [s for s in spans if s["name"] == "sfc.ranges"]
        counters["sfc.ranges"] = sum(s["attrs"].get("ranges", 0) for s in sfc)
        counters["sfc.ranges_ms"] = sum((s["end"] - s["start"]) * 1e3
                                        for s in sfc)
        self.rounds.append(counters)


def start_session(scratch):
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(scratch, d))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPATIAL_SPARK_DRIVER_MEM"] = "2g"
    # Python workers import spatial_spark (pandas UDFs) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the heap starts at its full 2 GB so that its growth is not measured;
    # no perf-data file in the system's /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={scratch}/warehouse "
        "--conf \"spark.driver.extraJavaOptions="
        f"-Djava.io.tmpdir={scratch}/tmp -Xms2g -XX:-UsePerfData\" "
        "pyspark-shell")
    tempfile.tempdir = None
    from spatial_spark import get_spark
    return get_spark("layerbench", cpus=CORES)


def stop_session(spark):
    """Stop Spark and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def retained_heap_mb(spark) -> float:
    """Least heap in use over a few ``System.gc()`` calls spaced out in
    time: Spark's cleaner thread frees broadcast and shuffle blocks only
    after a collection has cleared their references."""
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        time.sleep(0.25)
    return min(used)


def probe_session(spark):
    """A session sharing ``spark``'s JVM and executors but with SQL
    settings of its own: the ones the probe depends on are pinned."""
    ps = spark.newSession()
    for k, v in PROBE_CONF.items():
        ps.conf.set(k, v)
    return ps


def probe_ms(spark) -> float:
    """Time of a fixed, engine-independent probe shaped like one search:
    a filter built from many Column calls (Python work and Python-to-JVM
    round trips), planned and run as one small Spark job.  ``spark`` is
    the session from ``probe_session``."""
    from pyspark.sql import functions as F
    t = time.perf_counter()
    pred = None
    for i in range(16):
        p = F.col("id").between(i * 4000, i * 4000 + 1000)
        pred = p if pred is None else pred | p
    spark.range(0, 64000, 1, CORES).where(pred).agg(F.count(F.lit(1))).collect()
    return (time.perf_counter() - t) * 1e3


def run(args, scratch):
    import workloads
    from spatial_spark import SpatialContext

    bench = (TracedBench if args.trace else Bench)(args, scratch)
    bench.round_id = "setup"
    steal0, total0 = cpu_ticks()

    t0 = time.perf_counter()
    spark = bench.spark = start_session(scratch)
    session_s = time.perf_counter() - t0
    try:
        ps = probe_session(spark)
        wl = workloads.WORKLOADS[args.workload](bench)
        bench.workload = wl
        tracer = None
        if args.trace:
            from tracing import Tracer
            tracer = bench.tracer = Tracer(spark)
            tracer.install()
        inputs_s, load_s, setup_probes = [], [], []
        for p in range(wl.setup_passes):
            bench.inputs = os.path.join(scratch, f"inputs{p}")
            os.makedirs(bench.inputs)
            t = time.perf_counter()
            wl.inputs()
            inputs_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.bulk_load(SpatialContext(spark, os.path.join(scratch, f"wh{p}")))
            load_s.append(time.perf_counter() - t)
            setup_probes += [probe_ms(ps), probe_ms(ps)]
            if p + 1 < wl.setup_passes:
                shutil.rmtree(os.path.join(scratch, f"wh{p}"))
        wl.expect()
        t = time.perf_counter()
        wl.start()
        warm_s = time.perf_counter() - t
        for r in range(-wl.warm_rounds, 0):
            bench.round_id = r
            bench.round_ms = 0.0
            setup_probes.append(probe_ms(ps))
            if tracer:
                bench.begin_round(r)
            wl.round(r)
            warm_s += bench.round_ms / 1e3
            if tracer:
                bench.end_round(r)
        log(f"set-up: session {session_s:.2f} s, inputs "
            f"{[round(x, 2) for x in inputs_s]} s, loads "
            f"{[round(x, 2) for x in load_s]} s, warm-up {warm_s:.2f} s")

        n_rounds = max(3, math.ceil(args.seconds * wl.rounds_per_s))
        bench.ingest_rows, bench.ingest_s, bench.op_ms = 0, 0.0, []
        if tracer:
            bench.calls, bench.rounds = {}, []
        round_ms, probes = [], []
        for r in range(n_rounds):
            bench.round_id = r
            bench.round_ms = 0.0
            probes += [probe_ms(ps), probe_ms(ps)]
            if tracer:
                bench.begin_round(r)
            wl.round(r)
            round_ms.append(bench.round_ms)
            if tracer:
                bench.end_round(r)
        wl.finish()
        if tracer:
            tracer.uninstall()
        heap = retained_heap_mb(spark)
        steal1, total1 = cpu_ticks()
        steal = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0

        # host speed during set-up and during the timed rounds, relative
        # to the reference
        setup_speed = (PROBE_REF_MS / median(setup_probes)) ** SPEED_EXP
        speed = (PROBE_REF_MS / median(probes)) ** SPEED_EXP
        if bench.ingest_s > 0:
            ingest_rate = bench.ingest_rows / bench.ingest_s / speed
        else:   # static layers: the median bulk-load rate of the passes
            # after the first (which mostly measures JIT warm-up)
            ingest_rate = median([wl.bulk_rows() / t
                                  for t in load_s[1:]]) / setup_speed
        setup_raw = session_s + median(inputs_s) + median(load_s) + warm_s
        e2e = {
            "setup_s": (setup_raw * setup_speed, "s"),
            "ops_per_s": (len(bench.op_ms) / (sum(bench.op_ms) / 1e3) / speed,
                          "ops/s"),
            "round_p50_ms": (median(round_ms) * speed, "ms"),
            "ingest_rows_per_s": (ingest_rate, "rows/s"),
            "store_bytes_per_row": (bench.store_bytes_per_row, "B/row"),
            "retained_heap_mb": (heap, "MB"),
        }
        info = {"host.steal_share": steal, "host.speed": speed,
                "host.setup_speed": setup_speed, "setup_raw_s": setup_raw,
                "round_ms": round_ms, "probe_ms": probes,
                "load_s": load_s, "setup_probe_ms": setup_probes,
                "workload": args.workload, "seed": args.seed}
        if tracer:
            info["e2e"] = {k: v for k, (v, _) in e2e.items()}
            metrics = layer_metrics(bench, spark, session_s, inputs_s,
                                    load_s, warm_s, steal)
            out_dir = os.path.join(HERE, "_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"spans_{args.workload}_{args.seed}.json"),
                {"e2e": info["e2e"], "ops": bench.op_log,
                 "rounds": bench.rounds})
        else:
            metrics = e2e
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        return info, result
    finally:
        stop_session(spark)


def layer_metrics(bench, spark, session_s, inputs_s, load_s, warm_s, steal):
    """Every per-layer metric, 0 where the workload does not exercise the
    layer.  Per-round counters and per-call figures are medians."""
    rounds, calls = bench.rounds, bench.calls

    def per_round(name):
        return median([c.get(name, 0.0) for c in rounds])

    def per_call(kind, field):
        return median([c.get(field, 0.0) for c in calls.get(kind, [])])

    m = {
        "setup.session_s": (session_s, "s"),
        "setup.inputs_s": (median(inputs_s), "s"),
        "setup.bulk_load_s": (median(load_s), "s"),
        "setup.warm_s": (warm_s, "s"),
    }
    for name, unit in SPARK_COUNTERS:
        m[name] = (per_round(name), unit)
    for kind in OPS:
        for field, unit in (("build_ms", "ms"), ("build_jobs", "count"),
                            ("action_ms", "ms"), ("rows_out", "rows")):
            m[f"{kind}.{field}"] = (per_call(kind, field), unit)
    for kind in SEARCH_OPS:
        m[f"operators.search.{kind}.ms"] = (per_call(kind, "ms"), "ms")
    closest = calls.get("closest_dense", []) + calls.get("closest_sparse", [])
    m["operators.search.closest.fallback_ratio"] = (
        sum(1 for c in closest if c["layer_df"]) / len(closest)
        if closest else 0.0, "ratio")
    for kind in JOIN_OPS:
        cp = per_call(kind, "candidate_pairs")
        out = per_call(kind, "rows_out")
        m[f"operators.join.{kind}.ms"] = (per_call(kind, "ms"), "ms")
        m[f"operators.join.{kind}.candidate_pairs"] = (cp, "count")
        m[f"operators.join.{kind}.rows_out"] = (out, "rows")
        m[f"operators.join.{kind}.refine_hit_ratio"] = (out / cp if cp else 0.0,
                                                        "ratio")
    m["geom.python_rows"] = (per_round("geom.python_rows"), "rows")
    m["layer.add.ms"] = (per_call("layer.add", "ms"), "ms")
    m["layer.add.jobs"] = (per_call("layer.add", "jobs"), "count")
    m["layer.add.files_written"] = (per_call("layer.add", "files_written"), "count")
    m["layer.compact.ms"] = (per_call("layer.compact", "ms"), "ms")
    m["layer.compact.bytes_rewritten"] = (
        per_call("layer.compact", "bytes_written"), "B")
    m["layer.vacuum.ms"] = (per_call("layer.vacuum", "ms"), "ms")
    m["manifest.commit_ms"] = (per_round("manifest.commit_ms"), "ms")
    planned = sum(c.get("manifest.files_planned", 0) for c in rounds)
    total = sum(c.get("manifest.files_total", 0) for c in rounds)
    m["manifest.files_planned"] = (per_round("manifest.files_planned"), "count")
    m["manifest.files_total"] = (per_round("manifest.files_total"), "count")
    m["manifest.prune_ratio"] = (1.0 - planned / total if total else 0.0, "ratio")
    m["catalog.reads"] = (per_round("catalog.reads"), "count")
    m["sfc.ranges"] = (per_round("sfc.ranges"), "count")
    m["sfc.ranges_ms"] = (per_round("sfc.ranges_ms"), "ms")
    m.update(streaming_metrics(bench.workload))
    sc = spark.sparkContext
    m["session.persisted_rdds"] = (float(sc._jsc.getPersistentRDDs().size()), "count")
    m["session.temp_views"] = (float(len(spark.catalog.listTables())), "count")
    m["host.steal_share"] = (steal, "ratio")
    return m


def streaming_metrics(wl) -> dict:
    """Median micro-batch phase durations of the timed batches."""
    phases = {"streaming.trigger_ms": "triggerExecution",
              "streaming.add_batch_ms": "addBatch",
              "streaming.query_planning_ms": "queryPlanning",
              "streaming.wal_commit_ms": "walCommit",
              "streaming.commit_offsets_ms": "commitOffsets"}
    progress = [p for p in getattr(wl, "progress", [])
                if p.get("numInputRows", 0) > 0]
    return {name: (median([p["durationMs"].get(key, 0) for p in progress]), "ms")
            for name, key in phases.items()}


SEARCH_OPS = ("within_distance", "closest_dense", "bbox_search", "intersects",
              "closest_sparse", "within_cql")
JOIN_OPS = ("join_zones",)
OPS = SEARCH_OPS + JOIN_OPS
SPARK_COUNTERS = (("spark.jobs", "count"), ("spark.stages", "count"),
                  ("spark.tasks", "count"), ("spark.executor_run_ms", "ms"),
                  ("spark.executor_cpu_ms", "ms"), ("spark.offcpu_ms", "ms"),
                  ("spark.gc_ms", "ms"), ("spark.shuffle_write_bytes", "B"),
                  ("spark.spill_bytes", "B"))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import spatial_spark  # noqa: F401
        import workloads
    except ImportError as e:
        log(f"layerbench: cannot import the engine from {ROOT}: {e}")
        return 2
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"one of {sorted(workloads.WORKLOADS)}")
        return 2
    tmp_root = os.path.join(HERE, "_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    try:
        info, result = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("# info " + json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
