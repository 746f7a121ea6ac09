#!/usr/bin/env python3
"""Compare two sets of benchmark records: a parent commit and a change.

    python3 perfbench/compare.py --parent runs/parent --change runs/change

Each side is one or more record files, or directories holding them (the
files run.py writes with --out or under .bench_build/results/). Untraced
records only. Runs are paired by (workload, seed). For every workload and
end-to-end metric of BENCHMARK.json it prints each side's median and
quartiles, the share of pairs the change won (ties count for neither
side), and a verdict:

  improved    every change run beat every parent run; or, with both
              spreads within the bound, the change won at least 9 in 10
              pairs and the medians differ by more than the parent's
              quartile distance
  unresolved  either side's quartile distance, as a share of its median,
              is wider than the bound
  worse       the change's median is worse than the parent's by more than
              the metric's bound
  no worse    otherwise

Records whose environment (nproc, JVM, Spark, heap, Spark conf, size, run
length) differs in anything but the commit are refused, as are sides that
mix commits.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += [os.path.join(p, f) for f in sorted(os.listdir(p)) if f.endswith(".json")]
        else:
            files.append(p)
    recs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("env", {}).get("trace"):
            continue
        r["_file"] = f
        recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def refuse(msg):
    print(f"refused: {msg}", file=sys.stderr)
    sys.exit(2)


def compare(parent, change, bench):
    for side, recs in (("parent", parent), ("change", change)):
        if not recs:
            refuse(f"no untraced records on the {side} side")
        commits = {r["commit"] for r in recs}
        if len(commits) > 1:
            refuse(f"{side} side mixes commits {sorted(commits)}")
        bad = [r["_file"] for r in recs if not r.get("correct")]
        if bad:
            refuse(f"{side} side has runs that failed their checks: {bad}")
    env0 = parent[0]["env"]
    for r in parent + change:
        if r["env"] != env0:
            diff = sorted(k for k in set(env0) | set(r["env"])
                          if env0.get(k) != r["env"].get(k))
            refuse(f"{r['_file']} differs from {parent[0]['_file']} in {diff}")
    rows = []
    workloads = [w["name"] for w in bench["workloads"]]
    for w in workloads:
        p = {r["seed"]: r for r in parent if r["workload"] == w}
        c = {r["seed"]: r for r in change if r["workload"] == w}
        if not p or not c:
            continue
        seeds = sorted(set(p) & set(c))
        for m in bench["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            pv = [p[s]["result"][name] for s in sorted(p)]
            cv = [c[s]["result"][name] for s in sorted(c)]
            pq, cq = quartiles(pv), quartiles(cv)

            def better(a, b):
                return a < b if lower else a > b
            wins = sum(1 for s in seeds if better(c[s]["result"][name], p[s]["result"][name]))
            share = wins / len(seeds) if seeds else 0.0
            spread = max((pq[2] - pq[0]) / pq[1], (cq[2] - cq[0]) / cq[1])
            worse_by = (cq[1] - pq[1]) / pq[1] if lower else (pq[1] - cq[1]) / pq[1]
            dominates = all(better(x, y) for x in cv for y in pv)
            if dominates:
                verdict = "improved"
            elif spread > bound:
                verdict = "unresolved"
            elif worse_by > bound:
                verdict = "worse"
            elif (share >= 0.9 and better(cq[1], pq[1])
                  and abs(cq[1] - pq[1]) > pq[2] - pq[0]):
                verdict = "improved"
            else:
                verdict = "no worse"
            rows.append((w, name, pq, cq, share, len(seeds), verdict))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as fh:
        bench = json.load(fh)
    rows = compare(load(a.parent), load(a.change), bench)
    print(f"{'workload':<16} {'metric':<11} {'parent q1/med/q3':<32} "
          f"{'change q1/med/q3':<32} {'won':>9}  verdict")
    for w, name, pq, cq, share, n, verdict in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{w:<16} {name:<11} {fmt(pq):<32} {fmt(cq):<32} "
              f"{share:>5.0%} of {n:<2} {verdict}")
    if any(r[6] == "worse" for r in rows):
        sys.exit(1)


if __name__ == "__main__":
    main()
