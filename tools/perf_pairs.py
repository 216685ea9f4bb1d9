#!/usr/bin/env python3
"""Pair perfbench run records of two checkouts by seed and judge the A/B.

Usage: perf_pairs.py PARENT_DIR CHANGE_DIR [--trace 0|1] [--workload W] [--queries]

Each DIR is a repository checkout in which `perfbench/run.py` has run;
its records are `.bench_build/records/<workload>-seed<n>-trace<t>.json`.
Records of one workload are paired by seed. The metrics are BENCHMARK.json's
`end_to_end` list (`--trace 0`) or `per_layer` list (`--trace 1`), read from
CHANGE_DIR. For each metric the script prints each side's median and
quartiles, how many pairs the change wins and ties, the median change, and
whether the paired-runs rule holds: the change wins at least 9/10 of the
pairs (ties count for neither side) and its median beats the parent's by
more than the parent's interquartile range. A metric whose change median is
worse than the parent's by more than its `bound` is marked OVER BOUND.
With `--queries` the rows are the workload's queries instead: each side's
value per seed is the median build+run seconds of that query's samples in
the record's untraced passes, judged by the same rule.
The script only reads; it writes nothing.
"""
import argparse
import glob
import json
import os
import re
import statistics
import sys

RECORD = re.compile(r"^(?P<workload>.+)-seed(?P<seed>\d+)-trace(?P<trace>[01])\.json$")


def records(root, trace):
    """{workload: {seed: record}} for one checkout."""
    out = {}
    pattern = os.path.join(root, ".bench_build", "records", f"*-trace{trace}.json")
    for path in glob.glob(pattern):
        m = RECORD.match(os.path.basename(path))
        if not m:
            continue
        with open(path) as fh:
            out.setdefault(m["workload"], {})[int(m["seed"])] = json.load(fh)
    return out


def query_times(rec):
    """{query: median build+run seconds over the record's untraced samples}."""
    traced = rec.get("pass_traced", [])
    per = {}
    for p, q, build, run in rec.get("samples", []):
        if not (p - 1 < len(traced) and traced[p - 1]):
            per.setdefault(q, []).append(build + run)
    return {q: statistics.median(xs) for q, xs in per.items()}


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def judge(parent, change, lower_is_better):
    """Wins, ties, quartiles and the paired-runs verdict for one metric."""
    sign = 1 if lower_is_better else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    ties = sum(1 for p, c in zip(parent, change) if p == c)
    pq, cq = quartiles(parent), quartiles(change)
    gap = sign * (pq[1] - cq[1])  # > 0: the change's median is better
    holds = wins * 10 >= 9 * len(parent) and gap > pq[2] - pq[0]
    return wins, ties, pq, cq, gap, holds


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workload")
    ap.add_argument("--queries", action="store_true",
                    help="one row per query: median build+run seconds")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["per_layer" if a.trace else "end_to_end"]
    par, chg = records(a.parent, a.trace), records(a.change, a.trace)
    workloads = [a.workload] if a.workload else sorted(set(par) & set(chg))
    if not workloads:
        sys.exit("no workload has trace%d records in both checkouts" % a.trace)

    for wl in workloads:
        seeds = sorted(set(par.get(wl, {})) & set(chg.get(wl, {})))
        if not seeds:
            print(f"## {wl}: no seed recorded in both checkouts\n")
            continue
        print(f"## {wl}: {len(seeds)} pairs, seeds {seeds}")
        for side, recs in (("parent", par[wl]), ("change", chg[wl])):
            bad = [s for s in seeds
                   if recs[s].get("failed", 0) or recs[s].get("oracle_mismatches")]
            commits = sorted({str(recs[s].get("commit")) for s in seeds})
            print(f"{side}: commit {', '.join(commits)}; "
                  f"runs with failures or oracle mismatches: {bad or 'none'}")
        print()
        if a.queries:
            pt = {s: query_times(par[wl][s]) for s in seeds}
            ct = {s: query_times(chg[wl][s]) for s in seeds}
            names = sorted({q for s in seeds for q in list(pt[s]) + list(ct[s])})
            rows = [({"name": q},
                     [pt[s].get(q) for s in seeds], [ct[s].get(q) for s in seeds])
                    for q in names]
        else:
            rows = [(m, [par[wl][s]["metrics"].get(m["name"]) for s in seeds],
                     [chg[wl][s]["metrics"].get(m["name"]) for s in seeds])
                    for m in metrics]
        print(f"| {'query (build+run s)' if a.queries else 'metric'} "
              "| parent median [q1-q3] | change median [q1-q3] "
              "| change | wins/ties/pairs | paired-runs rule |")
        print("|---|---|---|---|---|---|")
        for m, pv, cv in rows:
            name = m["name"]
            if None in pv or None in cv:
                print(f"| {name} | missing | missing | | | |")
                continue
            lower = m.get("better", "lower") == "lower"
            wins, ties, pq, cq, gap, holds = judge(pv, cv, lower)
            rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
            worse = -gap / pq[1] if pq[1] else 0.0
            over = "bound" in m and worse > m["bound"]
            print(f"| {name} | {fmt(pq[1])} [{fmt(pq[0])}-{fmt(pq[2])}] "
                  f"| {fmt(cq[1])} [{fmt(cq[0])}-{fmt(cq[2])}] "
                  f"| {rel:+.1%}{' OVER BOUND' if over else ''} "
                  f"| {wins}/{ties}/{len(seeds)} "
                  f"| {'holds' if holds else 'does not hold'} |")
        print()


if __name__ == "__main__":
    main()
