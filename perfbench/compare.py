#!/usr/bin/env python3
"""Compares two sets of benchmark results, parent and change.

Usage: python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are each a directory of result files (run.py writes one
per run to .bench_build/results/) or a single result file. Only untraced
runs are compared. For every workload and end-to-end metric of
BENCHMARK.json it prints each side's median and quartiles, the share of
pairs the change won (runs paired by seed, else by order; ties count for
neither side), whether the median delta exceeds the parent's own quartile
spread, and a verdict:

  improved    the change won at least nine tenths of the pairs, its median
              is better by more than the parent's quartile spread, and it
              failed no more often than the parent;
  worse       the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  the parent's quartile spread is wider than the bound, and not
              every change run beats every parent run, or the change would
              count as improved but failed more often than the parent;
  unchanged   otherwise.

Per workload it also prints each side's failed gate runs over attempted
ones, its incorrect runs and its median pass count.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(path):
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = {}
    for f in files:
        r = json.loads(f.read_text())
        st = r.get("stamp", {})
        if st.get("trace") == 0:
            runs.setdefault(st["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def pairs(parent, change):
    """Runs paired by seed, the i-th run of a seed on one side with the i-th
    of the same seed on the other; by order when no seed is on both sides."""
    def by_seed(runs):
        d = {}
        for r in runs:
            d.setdefault(r["stamp"]["seed"], []).append(r)
        return d
    ps, cs = by_seed(parent), by_seed(change)
    common = sorted(set(ps) & set(cs))
    if common:
        return [pr for s in common for pr in zip(ps[s], cs[s])]
    return list(zip(parent, change))


def failures(runs):
    """(failed gate runs, attempted gate runs, incorrect runs) of one side."""
    return (sum(r["failed"] for r in runs), sum(r["attempted"] for r in runs),
            sum(1 for r in runs if not r["correct"]))


def verdict(p, c, pair_values, better, bound, fails_more):
    sign = 1 if better == "lower" else -1
    q1, pmed, q3 = quartiles(p)
    _, cmed, _ = quartiles(c)
    spread = q3 - q1
    wins = sum(1 for a, b in pair_values if sign * (a - b) > 0)
    share = wins / len(pair_values) if pair_values else 0.0
    gain = sign * (pmed - cmed)
    beyond = abs(cmed - pmed) > spread
    gained = share >= 0.9 and gain > spread
    if gained and not fails_more:
        v = "improved"
    elif -gain > bound * abs(pmed):
        v = "worse"
    elif gained or (spread > bound * abs(pmed)
                    and not all(sign * (a - b) > 0 for a in p for b in c)):
        v = "unresolved"
    else:
        v = "unchanged"
    return share, beyond, v


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    parent, change = load(argv[1]), load(argv[2])
    def fmt(q):
        return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"

    print(f"{'workload':<13}{'metric':<14}{'parent med [q1, q3]':>28}{'change med [q1, q3]':>28}"
          f"{'delta':>8}{'won':>6}{'>iqr':>6}  verdict")
    for w in sorted(set(parent) & set(change)):
        pf, cf = failures(parent[w]), failures(change[w])
        fails_more = cf[0] / cf[1] > pf[0] / pf[1] or cf[2] / len(change[w]) > pf[2] / len(parent[w])
        for side, runs, (failed, attempted, incorrect) in (("parent", parent[w], pf),
                                                           ("change", change[w], cf)):
            passes = statistics.median(r["stamp"]["passes"] for r in runs)
            print(f"{w:<13}{side}: {failed}/{attempted} gate runs failed, "
                  f"{incorrect}/{len(runs)} runs incorrect, median {passes:g} passes")
        for m in spec["end_to_end"]:
            name = m["name"]
            p = [r["metrics"][name]["value"] for r in parent[w]]
            c = [r["metrics"][name]["value"] for r in change[w]]
            pv = [(a["metrics"][name]["value"], b["metrics"][name]["value"])
                  for a, b in pairs(parent[w], change[w])]
            share, beyond, v = verdict(p, c, pv, m["better"], m["bound"], fails_more)
            pq, cq = quartiles(p), quartiles(c)
            delta = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
            print(f"{w:<13}{name:<14}{fmt(pq):>28}{fmt(cq):>28}{delta:>+8.1%}{share:>6.0%}"
                  f"{'yes' if beyond else 'no':>6}  {v} (n={len(p)}/{len(c)}, {m['unit']})")
    missing = set(parent) ^ set(change)
    if missing:
        print(f"workloads on one side only: {', '.join(sorted(missing))}")


if __name__ == "__main__":
    main(sys.argv)
