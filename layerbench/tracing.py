"""Tracing for the ``--trace 1`` run.

Spans are kept in memory -- name, start, end, parent span, round id -- at
each public-call boundary, and written out when the run ends together with
each span's self time (its duration minus the part covered by its
children).  Spark counters come from the status store, per job group: every
span runs the jobs started inside it under a job group of its
own, so a span's jobs are exactly the jobs of its group.  That holds on a
streaming query's micro-batch thread too.

Wrappers around engine calls (``Layer.add``/``compact``/``vacuum``,
manifest commits and planning reads, catalog reads, SFC range
decomposition, ``Layer.df``) are installed by ``Tracer.install`` and only
in a traced run; an untraced run never constructs a ``Tracer``.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def self_times(spans: list) -> dict:
    """span id -> duration minus the union of its children's intervals."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _scala_keys(m):
    it, out = m.keysIterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def plan_nodes(df):
    """(node class, {metric: value}) for every node of ``df``'s executed
    physical plan, descending through adaptive query stages."""
    out = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        m = node.metrics()
        out.append((cls, {k: m.get(k).get().value() for k in _scala_keys(m)}))
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def candidate_pairs(nodes) -> int:
    """Pairs reaching the exact refine: rows fed to Python refine UDFs
    above a join when there are any, else the join nodes' output rows."""
    seen_join, py = False, 0
    for cls, m in reversed(nodes):       # leaves first
        if "Join" in cls:
            seen_join = True
        elif seen_join and cls.endswith("EvalPythonExec"):
            py += m.get("pythonNumRowsReceived", 0)
    if py:
        return py
    return sum(m.get("numOutputRows", 0) for cls, m in nodes if "Join" in cls)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list = []
        self.round = None
        self.local = threading.local()
        self.lock = threading.Lock()
        self.counts = defaultdict(float)      # (round, name) -> value
        self._undo: list = []
        self._sql_seen = 0

    # ---- spans -------------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self.local, "stack"):
            self.local.stack = []
        return self.local.stack

    def current(self):
        st = self._stack()
        return st[-1] if st else None

    def add(self, name, value=1.0):
        with self.lock:
            self.counts[(self.round, name)] += value

    @contextmanager
    def span(self, name):
        """Record a span and run the jobs started inside it under a job
        group of its own; the caller's group (a streaming query's run id
        on its micro-batch thread) is restored afterwards."""
        stack = self._stack()
        rec = {"name": name, "round": self.round,
               "parent": stack[-1]["id"] if stack else None,
               "start": time.perf_counter(), "end": None, "attrs": {}}
        with self.lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        rec["group"] = f"layerbench-{rec['id']}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    # ---- wrappers around engine calls --------------------------------------
    def _patch(self, owner, attr, make):
        if isinstance(owner, dict):
            orig = owner[attr]
            owner[attr] = make(orig)
            self._undo.append(lambda: owner.__setitem__(attr, orig))
            return
        orig = owner.__dict__.get(attr)
        if orig is None:
            return
        setattr(owner, attr, make(orig))
        self._undo.append(lambda: setattr(owner, attr, orig))

    def install(self):
        from spatial_spark import catalog, layer, manifest
        from spatial_spark.operators import pruning
        tr = self

        def spanned(name):
            def make(fn):
                @functools.wraps(fn)
                def w(*a, **kw):
                    with tr.span(name):
                        return fn(*a, **kw)
                return w
            return make

        for attr in ("add", "compact", "vacuum"):
            self._patch(layer.Layer, attr, spanned(f"layer.{attr}"))

        def commit(fn):
            @functools.wraps(fn)
            def w(man, *a, **kw):
                with tr.span("manifest.commit") as rec:
                    out = fn(man, *a, **kw)
                added = list(kw.get("add", a[0] if a else ()))
                rec["attrs"]["files_written"] = len(added)
                rec["attrs"]["bytes_written"] = sum(
                    os.path.getsize(os.path.join(man.store, os.path.basename(f)))
                    for f in added)
                return out
            return w

        self._patch(manifest.Manifest, "commit_delta", commit)

        def files_where(fn):
            @functools.wraps(fn)
            def w(man, *a, **kw):
                out = fn(man, *a, **kw)
                if out is not None:
                    tr.add("manifest.files_planned", len(out))
                    tr.add("manifest.files_total",
                           sum(s["n"] for s in man.shard_stats() or []))
                return out
            return w

        self._patch(manifest.Manifest, "files_where", files_where)

        def counted(name):
            def make(fn):
                @functools.wraps(fn)
                def w(*a, **kw):
                    tr.add(name)
                    cur = tr.current()
                    if cur is not None:
                        cur["attrs"][name] = cur["attrs"].get(name, 0) + 1
                    return fn(*a, **kw)
                return w
            return make

        self._patch(catalog.Catalog, "_read", counted("catalog.reads"))
        self._patch(layer.Layer, "df", counted("layer.df"))

        def ranges(fn):
            @functools.wraps(fn)
            def w(*a, **kw):
                with tr.span("sfc.ranges") as rec:
                    out = fn(*a, **kw)
                rec["attrs"]["ranges"] = len(out)
                return out
            return w

        for curve in list(pruning._RANGE_FNS):
            self._patch(pruning._RANGE_FNS, curve, ranges)

    def uninstall(self):
        while self._undo:
            self._undo.pop()()

    # ---- Spark counters ----------------------------------------------------
    def drain(self):
        """Wait until the listener bus has delivered every event, so the
        status store holds the final numbers of finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_counters(self, groups, extra_jobs=()) -> dict:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = set(extra_jobs)
        for g in groups:
            jobs.update(st.getJobIdsForGroup(g))
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        c = defaultdict(float)
        c["spark.jobs"] = len(jobs)
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:       # stage evicted from the store
                continue
            if sd.numCompleteTasks() == 0:
                continue            # skipped: its shuffle output was reused
            c["spark.stages"] += 1
            c["spark.tasks"] += sd.numCompleteTasks()
            c["spark.executor_run_ms"] += sd.executorRunTime()
            c["spark.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            c["spark.gc_ms"] += sd.jvmGcTime()
            c["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spark.spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
        c["spark.offcpu_ms"] = c["spark.executor_run_ms"] - c["spark.executor_cpu_ms"]
        return c

    def python_rows_since_last(self) -> int:
        """Rows returned by Python UDF nodes in SQL executions that started
        since the previous call (closed loop: they belong to this round)."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        total = 0
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid < self._sql_seen:
                continue
            values, it = {}, store.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = str(kv._2())
            nodes = store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if "EvalPython" not in node.name():
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and v:
                        total += int(v.replace(",", ""))
            self._sql_seen = max(self._sql_seen, eid + 1)
        return total

    # ---- output ------------------------------------------------------------
    def dump(self, path: str, extra: dict):
        """Write the spans, with self times, plus ``extra`` as JSON."""
        st = self_times(self.spans)
        spans = [{"id": s["id"], "name": s["name"], "round": s["round"],
                  "parent": s["parent"], "start": s["start"], "end": s["end"],
                  "self_ms": st[s["id"]] * 1e3, "attrs": s["attrs"]}
                 for s in self.spans if s["end"] is not None]
        with open(path, "w") as f:
            json.dump(dict(extra, spans=spans), f)
