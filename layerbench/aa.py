"""A/A tool: how much do two sets of runs of one tree disagree?

    python3 layerbench/aa.py                       # 10 runs per set, all workloads
    python3 layerbench/aa.py --runs 5 --sets 1 --workloads search_mixed --no-trace

Runs one traced run per workload, then two sets of ``run.py`` invocations
on the current tree, interleaved (A, B, B, A, A, B, ...; each run its own
seed).  Prints, per workload and end-to-end metric, each set's median,
quartiles and quartile spread (``(q3 - q1) / median``), whether the spread
stays within the metric's bound (and below a third of it, the steadiness
target), whether the two medians agree within the bound (either way), every run's
``host.steal_share``, and the traced run's overhead on each end-to-end
metric.  Raw results go to ``layerbench/_out/aa_<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    info = json.loads(lines[-2][len("# info "):])
    return {"workload": workload, "seed": seed, "trace": trace,
            "wall_s": time.time() - t, "info": info,
            "result": json.loads(lines[-1])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--workloads", default=None,
                    help="comma-separated subset of BENCHMARK.json's")
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--no-trace", action="store_true",
                    help="skip the traced run per workload")
    ap.add_argument("--report", metavar="AA_JSON",
                    help="only print the summary of a saved result file")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = ([w.strip() for w in args.workloads.split(",")] if args.workloads
             else [w["name"] for w in spec["workloads"]])
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]

    if args.report:
        with open(args.report) as f:
            saved = json.load(f)
        return report(names, bounds, saved["runs"], saved["traced"],
                      args.report)
    out = os.path.join(HERE, "_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, time.strftime("aa_%Y%m%d_%H%M%S.json"))
    runs, traced = [], {}

    def save():
        with open(path, "w") as f:
            json.dump({"runs": runs, "traced": traced}, f, indent=1)

    if not args.no_trace:
        for w in names:
            traced[w] = run_once(w, args.seed0, seconds, 1)
            print(f"traced {w}: {traced[w]['wall_s']:.0f} s", flush=True)
            save()
    for i in range(args.runs):
        order = ["A", "B"][:args.sets]
        if i % 2:
            order.reverse()
        for s in order:
            seed = args.seed0 + 2 * i + (s == "B")
            for w in names:
                r = run_once(w, seed, seconds, 0)
                r["set"] = s
                runs.append(r)
                save()
                print(f"set {s} {w} seed {seed}: {r['wall_s']:.0f} s, "
                      f"steal {r['info']['host.steal_share']:.4f}, "
                      f"failed {r['result']['failed']}/"
                      f"{r['result']['attempted']}", flush=True)
    return report(names, bounds, runs, traced, path)


def report(names, bounds, runs, traced, path):
    ok = True
    for w in names:
        print(f"\n== {w}")
        mine = [r for r in runs if r["workload"] == w]
        failed = sum(r["result"]["failed"] for r in mine)
        print(f"failed operations: {failed} of "
              f"{sum(r['result']['attempted'] for r in mine)}")
        ok &= failed == 0
        print(f"{'metric':22s} {'set':3s} {'median':>12s} {'q1':>12s} "
              f"{'q3':>12s} {'spread':>7s} {'bound':>6s}  verdict")
        for name, m in bounds.items():
            meds = {}
            for s in sorted({r["set"] for r in mine}):
                xs = [r["result"]["metrics"][name]["value"]
                      for r in mine if r["set"] == s]
                q1, med, q3 = quartiles(xs)
                meds[s] = med
                spread = (q3 - q1) / med if med else float("inf")
                verdict = ("steady" if spread < m["bound"] / 3 else
                           "within bound" if spread <= m["bound"]
                           else "TOO NOISY")
                if name == "setup_s":
                    verdict += " (spread not gated)"
                elif spread > m["bound"]:
                    ok = False
                print(f"{name:22s} {s:3s} {med:12.6g} {q1:12.6g} {q3:12.6g} "
                      f"{spread:7.3f} {m['bound']:6.2f}  {verdict}")
            if len(meds) == 2:
                a, b = meds["A"], meds["B"]
                gap = abs(b - a) / min(a, b)
                agree = gap <= m["bound"]
                ok &= agree
                print(f"{'':22s} medians differ by {gap:.3f} -> "
                      f"{'agree' if agree else 'DISAGREE'}")
            if w in traced:
                tv = traced[w]["info"]["e2e"][name]
                base = statistics.median(
                    r["result"]["metrics"][name]["value"] for r in mine)
                print(f"{'':22s} traced run: {tv:.6g} "
                      f"({(tv - base) / base:+.1%} vs untraced median)")
        print("steal shares: " + ", ".join(
            f"{r['info']['host.steal_share']:.4f}" for r in mine))

    print(f"\nraw results: {path}\n{'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
