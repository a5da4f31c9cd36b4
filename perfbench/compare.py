#!/usr/bin/env python3
"""Compare two sets of perfbench runs: a parent and a change.

    python3 perfbench/compare.py <parent> <change> [--benchmark BENCHMARK.json]

Each side is a directory or a file holding the record lines run.py prints
(run.py also saves them under <build dir>/results/). For every workload and
metric it prints each side's median and quartiles and a verdict:

  gain        the change wins at least 9 of 10 run pairs (ties count for
              neither) and the medians differ by more than the parent's
              quartile spread;
  regression  the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  either side's quartile spread, as a share of its median,
              exceeds the bound, and not every change run beats every
              parent run;
  same        none of the above.

Pairs are formed in run order, so run the two sides alternately. Metrics
without a bound in BENCHMARK.json (the workloads' own named metrics) get a
bound of 0.1. Traced runs are summarized separately (per-layer medians, no
verdict), and where one side holds both traced and untraced runs the tracing
overhead per end-to-end metric is printed.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_BOUND = 0.1


def load(path):
    records = []
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{") and '"record":"perfbench"' in line:
                    records.append(json.loads(line))
    return records


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def better_of(unit, declared):
    if declared:
        return declared
    return "higher" if "/s" in unit else "lower"


def verdict(parent, change, better, bound):
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    sign = 1 if better == "higher" else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > p3 - p1:
        return "gain"
    spread = max((p3 - p1) / abs(pm) if pm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    all_better = all(sign * (c - p) > 0 for p in parent for c in change)
    if spread > bound and not all_better:
        return "unresolved"
    if pm and sign * (pm - cm) / abs(pm) > bound:
        return "regression"
    return "same"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as fh:
        bench = json.load(fh)
    declared = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    parent, change = load(a.parent), load(a.change)
    if not parent or not change:
        sys.exit("no perfbench record lines found on one side")

    for w in sorted({r["workload"] for r in parent + change}):
        print(f"\n== {w}")
        for traced in (False, True):
            ps = [r for r in parent if r["workload"] == w and r["trace"] == traced]
            cs = [r for r in change if r["workload"] == w and r["trace"] == traced]
            if not ps or not cs:
                continue
            key = "layers" if traced else "metrics"
            print(f"-- {'traced runs: per-layer metrics' if traced else 'untraced runs'}"
                  f" ({len(ps)} parent, {len(cs)} change)")
            print(f"{'metric':42s} {'parent median [q1, q3]':>34s} {'change median [q1, q3]':>34s}"
                  f" {'delta':>8s}  verdict")
            for name in ps[0][key]:
                pv = [r[key][name]["value"] for r in ps if r[key].get(name, {}).get("value") is not None]
                cv = [r[key][name]["value"] for r in cs if r[key].get(name, {}).get("value") is not None]
                if not pv or not cv:
                    continue
                unit = ps[0][key][name]["unit"]
                d = declared.get(name, {})
                bound = d.get("bound", DEFAULT_BOUND)
                p1, pm, p3 = quartiles(pv)
                c1, cm, c3 = quartiles(cv)
                delta = (cm - pm) / abs(pm) if pm else 0.0
                v = "-" if traced else verdict(pv, cv, better_of(unit, d.get("better")), bound)
                print(f"{name:42s} {pm:14.4g} [{p1:8.4g}, {p3:8.4g}] {cm:14.4g} [{c1:8.4g}, {c3:8.4g}]"
                      f" {delta:+7.1%}  {v}")

    for side, recs in (("parent", parent), ("change", change)):
        for w in sorted({r["workload"] for r in recs}):
            un = [r for r in recs if r["workload"] == w and not r["trace"]]
            tr = [r for r in recs if r["workload"] == w and r["trace"]]
            if not un or not tr:
                continue
            print(f"\n-- tracing overhead, {side}, {w} (traced median vs untraced median)")
            for m in bench["end_to_end"]:
                n = m["name"]
                if any(n not in r["metrics"] for r in un + tr):
                    continue
                u = statistics.median(r["metrics"][n]["value"] for r in un)
                t = statistics.median(r["metrics"][n]["value"] for r in tr)
                print(f"{n:42s} {(t - u) / u if u else 0.0:+7.1%}")


if __name__ == "__main__":
    main()
