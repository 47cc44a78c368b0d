#!/usr/bin/env python3
"""Compares benchmark runs of a parent commit and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--spec BENCHMARK.json]

Each directory holds the run records `run.py` leaves in `.bench_out/`
(untraced runs; traced ones are skipped). Runs pair up by workload and
seed, so run both sides with the same seeds, alternating which side goes
first. For every workload and every end-to-end metric the rule is:

- at least 10 pairs, else "too few pairs";
- each side's median and quartiles (statistics.quantiles, n=4);
- "gain" only when the change wins at least 9/10 of the pairs (ties count
  for neither) and the medians differ by more than the parent's
  interquartile spread; when the change's failed-operation share is above
  the parent's, such a row reads "not a gain: more failures" instead;
- "regression" when the change's median is worse than the parent's by more
  than the metric's bound;
- "unresolved" when the parent's spread (IQR / median) exceeds the bound,
  unless every change run reads better than every parent run;
- otherwise "same within bound".

Each workload is its own row group, with the failed-operation share of each
side. Exits 1 if any row is a regression or any change run is not correct.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        r = json.load(open(f))
        if r.get("trace"):
            continue
        runs.setdefault(r["workload"], {})[r["seed"]] = r
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(metric, parent, change, more_failures=False):
    lower = metric["better"] == "lower"
    bound = metric["bound"]
    n = len(parent)
    if n < 10:
        return "too few pairs", None
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    losses = sum(better(p, c) for p, c in zip(parent, change))
    worse_by = ((cm - pm) if lower else (pm - cm)) / pm
    stats = {"parent_q": [p1, pm, p3], "change_q": [c1, cm, c3], "wins": wins,
             "losses": losses, "pairs": n, "change_worse_by": worse_by}
    if wins >= 0.9 * n and abs(cm - pm) > (p3 - p1):
        return ("not a gain: more failures" if more_failures else "gain"), stats
    if worse_by > bound:
        return "regression", stats
    if (p3 - p1) / pm > bound and not all(better(c, p) for c in change for p in parent):
        return "unresolved", stats
    return "same within bound", stats


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--spec", default="BENCHMARK.json")
    a = ap.parse_args()
    spec = json.load(open(a.spec))
    P, C = load(a.parent), load(a.change)
    regress = bad = False
    for w in [x["name"] for x in spec["workloads"]]:
        seeds = sorted(set(P.get(w, {})) & set(C.get(w, {})))
        if not seeds:
            print(f"{w}: no paired runs")
            continue
        pr = [P[w][s]["result"] for s in seeds]
        cr = [C[w][s]["result"] for s in seeds]
        share = lambda rs: sum(r["failed"] for r in rs) / max(1, sum(r["attempted"] for r in rs))
        print(f"{w}: {len(seeds)} pairs; failed share parent {share(pr):.4f}, "
              f"change {share(cr):.4f}")
        wrong = [s for s, r in zip(seeds, cr) if not r["correct"]]
        if wrong:
            bad = True
            print(f"  change runs not correct, seeds {wrong}")
        for m in spec["end_to_end"]:
            pv = [r["metrics"][m["name"]]["value"] for r in pr]
            cv = [r["metrics"][m["name"]]["value"] for r in cr]
            v, st = verdict(m, pv, cv, share(cr) > share(pr))
            regress |= v == "regression"
            if st is None:
                print(f"  {m['name']:<16} {v}")
                continue
            print(f"  {m['name']:<16} {v:<18} parent {st['parent_q'][1]:.4g} "
                  f"[{st['parent_q'][0]:.4g}, {st['parent_q'][2]:.4g}]  change "
                  f"{st['change_q'][1]:.4g} [{st['change_q'][0]:.4g}, {st['change_q'][2]:.4g}]  "
                  f"wins {st['wins']}/{st['pairs']}  worse by {100 * st['change_worse_by']:+.1f}% "
                  f"(bound {100 * m['bound']:.0f}%) {m['unit']}")
    sys.exit(1 if regress or bad else 0)


if __name__ == "__main__":
    main()
