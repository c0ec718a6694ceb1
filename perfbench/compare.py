#!/usr/bin/env python3
"""Diff two benchmark ledgers (parent, change) per workload and metric.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl [--bench BENCHMARK.json]

Each ledger is the `ledger.jsonl` that perfbench/run.py appends to, one
line per run. For every workload and end-to-end metric the runs of the
two sides are paired in ledger order (run them alternately, parent
first in odd pairs), and the verdict follows the measuring rule of the
choosing-metrics guide:

- gain: at least ten pairs, the change wins at least 9/10 of them (ties
  count for neither side), and the medians differ by more than the
  parent's interquartile range;
- regression: the change's median is worse than the parent's by more
  than the metric's bound;
- unresolved: either side's spread (IQR / median) exceeds the bound,
  unless every change run beats every parent run;
- same: none of the above.

Traced runs (`--trace 1`) are compared per layer metric: the layer
metrics that moved most, by relative change of their medians, are listed
under each workload so a gain can be located in the layer that made it.
"""
import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from stats import div, iqr_share, median  # noqa: E402


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def runs(entries, workload, trace):
    return [e for e in entries if e["workload"] == workload and e["trace"] == trace]


def verdict(parent, change, better, bound):
    """Verdict and figures for one metric, from paired run values."""
    sign = 1.0 if better == "lower" else -1.0
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) > 0)
    mp, mc = median(parent), median(change)
    q = statistics.quantiles(parent, n=4) if len(parent) >= 2 else [mp, mp, mp]
    parent_iqr = q[2] - q[0]
    worse_share = sign * div(mc - mp, abs(mp))
    every_better = bool(parent) and bool(change) and (
        max(change) < min(parent) if better == "lower" else min(change) > max(parent))
    spread = max(iqr_share(parent), iqr_share(change))
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(mc - mp) > parent_iqr \
            and sign * (mp - mc) > 0:
        v = "gain"
    elif worse_share > bound:
        v = "regression"
    elif spread > bound and not every_better:
        v = "unresolved"
    else:
        v = "same"
    return v, {"parent_median": mp, "change_median": mc, "pairs": len(pairs),
               "wins": wins, "losses": losses, "parent_iqr": parent_iqr,
               "spread": spread, "change_share": div(mc - mp, abs(mp))}


def layer_moves(parent, change, top=8):
    """Per-layer metrics ordered by the relative change of their medians."""
    names = set()
    for e in parent + change:
        names |= set(e["metrics"])
    moves = []
    for n in names:
        mp = median(e["metrics"][n] for e in parent if n in e["metrics"])
        mc = median(e["metrics"][n] for e in change if n in e["metrics"])
        if mp != mc:
            share = div(mc - mp, abs(mp)) if mp else float("inf")
            moves.append((share, n, mp, mc))
    return sorted(moves, key=lambda m: abs(m[0]), reverse=True)[:top]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.bench) as f:
        bench = json.load(f)
    parent, change = load(a.parent), load(a.change)
    for w in bench["workloads"]:
        name = w["name"]
        pe, ce = runs(parent, name, 0), runs(change, name, 0)
        print(f"== {name}: {len(pe)} parent runs, {len(ce)} change runs")
        for m in bench["end_to_end"]:
            pv = [e["metrics"][m["name"]] for e in pe if m["name"] in e["metrics"]]
            cv = [e["metrics"][m["name"]] for e in ce if m["name"] in e["metrics"]]
            if not pv or not cv:
                print(f"  {m['name']:20s} no runs")
                continue
            v, f = verdict(pv, cv, m["better"], m["bound"])
            print(f"  {m['name']:20s} {v:10s} parent {f['parent_median']:.4g} -> change "
                  f"{f['change_median']:.4g} {m['unit']} ({f['change_share']:+.1%}); "
                  f"wins {f['wins']}/{f['pairs']}, parent IQR {f['parent_iqr']:.3g}, "
                  f"spread {f['spread']:.1%} (bound {m['bound']:.0%})")
        pt, ct = runs(parent, name, 1), runs(change, name, 1)
        if pt and ct:
            print(f"  layers moved most ({len(pt)} vs {len(ct)} traced runs):")
            for share, n, mp, mc in layer_moves(pt, ct):
                print(f"    {n:40s} {mp:.4g} -> {mc:.4g} ({share:+.1%})")


if __name__ == "__main__":
    main()
