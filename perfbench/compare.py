#!/usr/bin/env python3
"""Compares two sets of benchmark runs: a parent commit's and a change's.

    python3 perfbench/compare.py PARENT_RUNS CHANGE_RUNS

Each argument is a copy of a checkout's `.perfbench/runs` directory (one
JSON record per `run.py` invocation). For every workload x metric it
prints both sides' median and quartiles and a verdict:

- improved: the change wins at least 9 in 10 of the seed-paired runs (ties
  count for neither side) and the medians differ by more than the
  parent's own quartile spread;
- worse: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json;
- unresolved: neither, either side's quartile spread, as a share of its
  median, is wider than the bound, and not every run of the change reads
  better than every run of the parent;
- unchanged: otherwise.

Per-layer metrics have no bound; they are improved, unchanged, or worse
by the improved rule the other way.
The host's calibration sentinel and CPU steal share, from the untraced
runs' context, are printed with the change-to-parent ratio of their
medians instead of a verdict: the calibration ratio a claim states.
"""
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
HOST = ("host_calib_s", "host_steal_frac")


def load_runs(path):
    """{(workload, trace): {seed: {metric: value}}} from a runs directory."""
    runs = {}
    for f in sorted(os.listdir(path)):
        if not f.endswith(".json") or f.endswith((".raw.json", ".spans.json")):
            continue
        with open(os.path.join(path, f)) as fh:
            r = json.load(fh)
        c = r["context"]
        values = {k: v["value"] for k, v in r["metrics"].items()}
        values.update((k, c[k]) for k in HOST if c.get(k) is not None)
        runs.setdefault((c["workload"], c["trace"]), {})[c["seed"]] = values
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, lower_better, bound):
    """parent, change: {seed: value}. Returns (verdict, detail dict)."""
    p = sorted(parent.values())
    c = sorted(change.values())
    p1, pm, p3 = quartiles(p)
    c1, cm, c3 = quartiles(c)

    def better(a, b):
        return a < b if lower_better else a > b

    seeds = sorted(set(parent) & set(change))
    wins = sum(better(change[s], parent[s]) for s in seeds)
    losses = sum(better(parent[s], change[s]) for s in seeds)
    apart = abs(cm - pm) > (p3 - p1)
    worse_by = ((cm - pm) if lower_better else (pm - cm)) / abs(pm) if pm else 0
    spread = max((p3 - p1) / abs(pm) if pm else 0,
                 (c3 - c1) / abs(cm) if cm else 0)
    worst_change, best_parent = (c[-1], p[0]) if lower_better else (c[0], p[-1])
    if seeds and wins >= 0.9 * len(seeds) and apart:
        v = "improved"
    elif bound is None:
        v = ("worse" if seeds and losses >= 0.9 * len(seeds) and apart
             else "unchanged")
    elif worse_by > bound:
        v = "worse"
    elif spread > bound and not better(worst_change, best_parent):
        v = "unresolved"
    else:
        v = "unchanged"
    return v, dict(parent=(p1, pm, p3), change=(c1, cm, c3), pairs=len(seeds),
                   wins=wins, losses=losses, spread=spread)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = [(m, 0) for m in spec["end_to_end"]] + \
        [(m, 1) for m in spec["per_layer"]] + \
        [(dict(name=k, better="lower"), 0) for k in HOST]
    parent, change = load_runs(sys.argv[1]), load_runs(sys.argv[2])
    print(f"{'workload':<12} {'metric':<28} {'parent q1/med/q3':>32} "
          f"{'change q1/med/q3':>32} {'pairs':>5} {'win':>4} verdict")
    for w in [w["name"] for w in spec["workloads"]]:
        for m, trace in metrics:
            ps = {s: r[m["name"]] for s, r in parent.get((w, trace), {}).items()
                  if m["name"] in r}
            cs = {s: r[m["name"]] for s, r in change.get((w, trace), {}).items()
                  if m["name"] in r}
            if not ps or not cs:
                continue
            v, d = verdict(ps, cs, m["better"] == "lower", m.get("bound"))
            if m["name"] in HOST:
                v = (f"ratio {d['change'][1] / d['parent'][1]:.3f}"
                     if d["parent"][1] else "ratio -")
            fmt = "{:.4g}/{:.4g}/{:.4g}"
            print(f"{w:<12} {m['name']:<28} {fmt.format(*d['parent']):>32} "
                  f"{fmt.format(*d['change']):>32} {d['pairs']:>5} "
                  f"{d['wins']:>4} {v}")


if __name__ == "__main__":
    main()
