#!/usr/bin/env python3
"""Steadiness report: two sets of runs of one commit, compared against the
benchmark's own bounds.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--seed0 1]
                                [--traced]

Run from the root of a checkout. Each run is `perfbench/run.py` with its
own seed (set k uses seeds seed0 + k*runs ...). For every workload and
end-to-end metric it prints the median, the quartiles, the spread
(interquartile distance over the median) and how much worse set 2's
median is than set 1's (negative: better). Both the spread and the size
of the set-vs-set shift must stay within the metric's bound, and every
run must be correct; otherwise the report exits 1.

With --traced it also makes one traced run per workload and prints the
per-layer metrics and the tracing overhead: the traced run's end-to-end
figures against the untraced medians of set 1.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETS = 2


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        sys.stderr.write(p.stderr[-3000:])
        print(f"{workload} seed {seed}: INCORRECT", file=sys.stderr)
    return res, wall


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def worse_by(better, m1, m2):
    """How much worse m2 is than m1, as a share of m1 (negative = better)."""
    if m1 == 0:
        return 0.0
    return (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    e2e = spec["end_to_end"]

    values = {}  # (set, workload, metric) -> [values]
    runs = []
    for k in range(SETS):
        for w in workloads:
            for i in range(args.runs):
                seed = args.seed0 + k * args.runs + i
                res, wall = run(w, seed, seconds, 0)
                runs.append({"set": k, "workload": w, "seed": seed, "wall_s": wall, "result": res})
                for name, m in res["metrics"].items():
                    values.setdefault((k, w, name), []).append(m["value"])
                print(f"set {k + 1} {w} seed {seed}: {wall:.0f} s wall, correct={res['correct']}, "
                      f"failed={res['failed']}/{res['attempted']}", file=sys.stderr)

    ok = all(r["result"]["correct"] for r in runs)
    print(f"{'workload':16} {'metric':14} {'set':>3} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6} {'shift':>7}")
    for w in workloads:
        for m in e2e:
            name, bound = m["name"], m["bound"]
            meds = []
            for k in range(SETS):
                q1, med, q3 = quartiles(values[(k, w, name)])
                meds.append(med)
                spread = (q3 - q1) / med if med else 0.0
                worse = worse_by(m["better"], meds[0], med) if k else 0.0
                flag = ""
                if spread > bound:
                    flag, ok = " SPREAD>BOUND", False
                if abs(worse) > bound:
                    flag, ok = flag + " SHIFT>BOUND", False
                print(f"{w:16} {name:14} {k + 1:>3} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                      f"{spread:7.3f} {bound:6.2f} {worse:7.3f}{flag}")

    if args.traced:
        print()
        for w in workloads:
            res, _ = run(w, args.seed0, seconds, 1)
            ok = ok and res["correct"]
            with open(os.path.join(ROOT, ".bench_out", f"trace-{w}-{args.seed0}.json")) as fh:
                traced = json.load(fh)
            print(f"== {w} per-layer (seed {args.seed0}, correct={res['correct']})")
            for name, m in res["metrics"].items():
                print(f"   {name:36} {m['value']:16.2f} {m['unit']}")
            print(f"== {w} tracing overhead (traced minus untraced median of set 1)")
            for m in e2e:
                base = statistics.median(values[(0, w, m["name"])]) if (0, w, m["name"]) in values else None
                t = traced["end_to_end"].get(m["name"])
                if base is not None and t is not None:
                    print(f"   {m['name']:14} {t - base:+12.4f} {m['unit']} ({(t - base) / base:+.1%})")

    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out", f"steady-{int(time.time())}.json"), "w") as fh:
        json.dump(runs, fh)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
