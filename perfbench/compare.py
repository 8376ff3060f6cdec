#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are directories of run records as perfbench/run.py writes
them (perfbench/results/ after a series of runs of one commit). For each
workload and end-to-end metric it prints each side's median and quartiles,
how many seed-paired runs the change won, and a verdict against the bound in
BENCHMARK.json:

  improved    the change won at least 9 of 10 pairs and the medians differ
              by more than the base's own quartile spread
  worse       the change's median is worse than the base's by more than the
              bound
  unresolved  a side's quartile spread is wider than the bound, unless every
              change run is better than every base run
  unchanged   otherwise

It then prints each workload's figures under their own names, the
per-layer medians of the traced runs with their relative change, and each
side's tracing overhead (traced run against untraced run), so a flagged
end-to-end delta that no layer explains reads as noise.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            runs.append(json.load(f))
    if not runs:
        sys.exit(f"no run records in {d}")
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def values(runs, workload, trace, section, name):
    """{seed: value} of one figure over the runs of one workload."""
    out = {}
    for r in runs:
        if r["workload"] == workload and str(r["trace"]) == str(trace) and name in r.get(section, {}):
            out.setdefault(r["seed"], []).append(r[section][name]["value"])
    return {s: statistics.median(v) for s, v in out.items()}


def verdict(base, change, better, bound):
    b, c = list(base.values()), list(change.values())
    sign = 1 if better == "higher" else -1
    # runs pair by seed; sides run with different seeds pair in seed order
    pairs = [(base[s], change[s]) for s in base if s in change] or \
        list(zip((base[s] for s in sorted(base)), (change[s] for s in sorted(change))))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    bm, cm = statistics.median(b), statistics.median(c)
    worse_by = sign * (bm - cm) / abs(bm) if bm else 0.0
    all_better = all(sign * (y - x) > 0 for x in b for y in c)
    q1, _, q3 = quartiles(b)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - bm) > q3 - q1 and sign * (cm - bm) > 0:
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif max(spread(b), spread(c)) > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return wins, len(pairs), v


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description="compare two sets of perfbench run records")
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as f:
        bench = json.load(f)
    base, change = load(a.base), load(a.change)
    workloads = [w["name"] for w in bench["workloads"]]

    print("end-to-end (untraced runs)")
    print(f"{'workload':14} {'metric':18} {'base q1/med/q3':>28} {'change q1/med/q3':>28} {'wins':>6}  verdict")
    for w in workloads:
        for m in bench["end_to_end"]:
            bv = values(base, w, 0, "metrics", m["name"])
            cv = values(change, w, 0, "metrics", m["name"])
            if not bv or not cv:
                print(f"{w:14} {m['name']:18} {'(no runs)':>28}")
                continue
            wins, n, v = verdict(bv, cv, m["better"], m["bound"])
            bq = "/".join(fmt(x) for x in quartiles(list(bv.values())))
            cq = "/".join(fmt(x) for x in quartiles(list(cv.values())))
            print(f"{w:14} {m['name']:18} {bq:>28} {cq:>28} {wins:>3}/{n:<2}  {v}")

    print("\nnamed figures (untraced runs, medians)")
    for w in workloads:
        names = sorted({n for r in base + change if r["workload"] == w for n in r.get("named", {})})
        for n in names:
            bv, cv = values(base, w, 0, "named", n), values(change, w, 0, "named", n)
            if bv and cv:
                bm, cm = statistics.median(bv.values()), statistics.median(cv.values())
                print(f"{w:14} {n:30} {fmt(bm):>12} {fmt(cm):>12} {((cm - bm) / bm if bm else 0):+8.1%}")

    print("\nper-layer (traced runs, medians)")
    for w in workloads:
        names = [m["name"] for m in bench["per_layer"]]
        for n in names:
            bv, cv = values(base, w, 1, "layers", n), values(change, w, 1, "layers", n)
            if bv and cv:
                bm, cm = statistics.median(bv.values()), statistics.median(cv.values())
                if bm or cm:
                    d = f"{(cm - bm) / bm:+8.1%}" if bm else "     new"
                    print(f"{w:14} {n:34} {fmt(bm):>12} {fmt(cm):>12} {d}")

    print("\ntracing overhead (traced median against untraced median)")
    for side, runs in (("base", base), ("change", change)):
        for w in workloads:
            for m in bench["end_to_end"]:
                u = values(runs, w, 0, "metrics", m["name"])
                t = values(runs, w, 1, "layers", "traced." + m["name"])
                if u and t:
                    um, tm = statistics.median(u.values()), statistics.median(t.values())
                    print(f"{side:7} {w:14} {m['name']:18} {fmt(um):>12} {fmt(tm):>12} {(tm - um) / um:+8.1%}")


if __name__ == "__main__":
    main()
