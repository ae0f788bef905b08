#!/usr/bin/env python3
"""Summarize or compare benchmark result sets.

    python3 perfbench/compare.py <results-dir>                 # one set
    python3 perfbench/compare.py <base-dir> <change-dir> [--json]

A results directory holds the per-run records run.py writes
(`<workload>-seed<n>-trace<0|1>.json`, by default under
`.bench_build/perfbench/results/`). Untraced runs give the end-to-end
metrics, traced runs the per-layer ones.

With one set, each metric's median, quartiles and spread (quartile
distance over median) are printed per workload.

With two sets, every metric of every workload is classified. For an
end-to-end metric, against its bound in BENCHMARK.json:
  when either set's spread is wider than the bound, only a separation
  counts: worse if every change run is worse than every base run, better
  if every change run is better, else unresolved;
  otherwise worse if the median is worse by more than the bound, better
  if the median is better by more than the base's spread and the change
  wins at least 9 in 10 of the runs paired by seed, else same.
For a per-layer metric (no bound), against the base's spread: better or
worse if the median moved by more than that spread and at least 9 in 10
pairs moved the same way, else unresolved.
A metric whose base median is 0 cannot move by a share of it: any move
of the median the wrong way is worse, and when every base run reads 0,
so is one change run that does not.
Each workload also gets a `failed_runs` row, the number of runs that
reported a failed op: worse whenever the change has one and the base none.
"""

import glob
import json
import math
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {}
    for m in spec["end_to_end"]:
        metrics[m["name"]] = {"better": m["better"], "bound": m["bound"], "kind": "e2e"}
    for m in spec["per_layer"]:
        metrics[m["name"]] = {"better": m["better"], "bound": None, "kind": "layer"}
    return metrics


def load_set(d):
    """({workload: {metric: {seed: value}}}, {workload: runs with a failed op})
    from one results directory."""
    out, failed_runs = {}, {}
    for p in sorted(glob.glob(os.path.join(d, "*-seed*-trace*.json"))):
        with open(p) as f:
            r = json.load(f)
        env = r.get("env", {})
        w, seed = env.get("workload"), env.get("seed")
        if w is None:
            continue
        failed_runs[w] = failed_runs.get(w, 0) + (1 if r.get("failed", 0) > 0 else 0)
        for name, m in r["metrics"].items():
            out.setdefault(w, {}).setdefault(name, {})[seed] = m["value"]
    return out, failed_runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else 0.0


def classify(spec, base, change):
    """Label one metric's change; returns (label, worsening as a share of
    the base median, infinite when that median is 0)."""
    sign = 1.0 if spec["better"] == "lower" else -1.0
    # signed so that larger is worse
    a = [sign * x for x in base.values()]
    b = [sign * x for x in change.values()]
    med_a, med_b = quartiles(a)[1], quartiles(b)[1]
    delta = med_b - med_a
    if med_a == 0:
        worse_by = math.copysign(math.inf, delta) if delta else 0.0
        if delta > 0 or (max(map(abs, a)) == 0 and max(b) > 0):
            return "worse", worse_by
        if delta < 0:
            return "better", worse_by
        return ("same" if spec["bound"] is not None else "unresolved"), worse_by
    worse_by = delta / abs(med_a)
    noise = spread(a)
    pairs = [s for s in base if s in change]
    wins = sum(1 for s in pairs if change[s] * sign < base[s] * sign)
    losses = sum(1 for s in pairs if change[s] * sign > base[s] * sign)
    bound = spec["bound"]
    if bound is None:
        if pairs and wins >= 0.9 * len(pairs) and -worse_by > noise:
            return "better", worse_by
        if pairs and losses >= 0.9 * len(pairs) and worse_by > noise:
            return "worse", worse_by
        return "unresolved", worse_by
    if max(noise, spread(b)) > bound:
        if min(b) > max(a):
            return "worse", worse_by
        if max(b) < min(a):
            return "better", worse_by
        return "unresolved", worse_by
    if worse_by > bound:
        return "worse", worse_by
    if pairs and wins >= 0.9 * len(pairs) and -worse_by > noise:
        return "better", worse_by
    return "same", worse_by


def classify_failed(base_n, change_n):
    if change_n and not base_n:
        return "worse"
    if base_n and not change_n:
        return "better"
    return "same" if base_n == change_n else "unresolved"


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    as_json = "--json" in sys.argv
    if not 1 <= len(args) <= 2:
        sys.exit(__doc__)
    spec = load_spec()
    loaded = [load_set(d) for d in args]
    sets = [s for s, _ in loaded]
    failed = [f for _, f in loaded]
    rows = []
    for w in sorted(set().union(*[s.keys() for s in sets])):
        if len(sets) == 2:
            fa, fb = failed[0].get(w, 0), failed[1].get(w, 0)
            rows.append({"workload": w, "metric": "failed_runs", "kind": "run", "base": fa,
                         "change": fb, "worse_by": fb - fa, "label": classify_failed(fa, fb)})
        else:
            f = failed[0][w]
            runs = max(len(v) for v in sets[0][w].values())
            rows.append({"workload": w, "metric": "failed_runs", "n": runs, "q1": f,
                         "median": f, "q3": f, "spread": 0.0})
        names = [n for n in spec if all(n in s.get(w, {}) for s in sets)]
        for n in names:
            if len(sets) == 1:
                xs = list(sets[0][w][n].values())
                q1, med, q3 = quartiles(xs)
                rows.append({"workload": w, "metric": n, "n": len(xs), "q1": q1,
                             "median": med, "q3": q3, "spread": spread(xs)})
            else:
                label, worse_by = classify(spec[n], sets[0][w][n], sets[1][w][n])
                rows.append({"workload": w, "metric": n, "kind": spec[n]["kind"],
                             "base": quartiles(list(sets[0][w][n].values()))[1],
                             "change": quartiles(list(sets[1][w][n].values()))[1],
                             "worse_by": worse_by, "label": label})
    if as_json:
        for r in rows:
            if isinstance(r.get("worse_by"), float) and math.isinf(r["worse_by"]):
                r["worse_by"] = "inf" if r["worse_by"] > 0 else "-inf"
        print(json.dumps(rows, indent=1))
        return
    for r in rows:
        if len(sets) == 1:
            print(f"{r['workload']:12s} {r['metric']:40s} n={r['n']:<3d} median={r['median']:<14.6g}"
                  f" q1={r['q1']:<12.6g} q3={r['q3']:<12.6g} spread={r['spread']:.3f}")
        else:
            print(f"{r['workload']:12s} {r['metric']:40s} {r['base']:<14.6g} -> {r['change']:<14.6g}"
                  f" worse_by={r['worse_by']:+.3f}  {r['label']}")


if __name__ == "__main__":
    main()
