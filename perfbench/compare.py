#!/usr/bin/env python3
"""Compare two sets of benchmark runs (or summarize one).

    python3 perfbench/compare.py SET_A [SET_B]

A set is a directory of result records (perfbench/out/results/*.json, or a
copy made by sweep.py). For every workload and metric the script prints each
set's median and quartiles (statistics.quantiles, n=4) and the spread, the
interquartile distance as a share of the median. With two sets it also
prints how much B moved against A in the metric's worse direction and a
verdict from the bounds in BENCHMARK.json:

  ok        B's median is not worse than A's by more than the bound
  WORSE     B's median is worse than A's by more than the bound
  NOISY     a spread of A or B is wider than the bound, so the pair cannot
            be resolved within it

Per-layer metrics (traced runs) have no bound and are printed without a
verdict. The exit code is 1 when any end-to-end verdict is WORSE or NOISY.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec(path=os.path.join(ROOT, "BENCHMARK.json")):
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def load_set(path):
    """{(workload, metric): [values]} from every result record under path."""
    files = [path] if os.path.isfile(path) else sorted(glob.glob(os.path.join(path, "*.json")))
    out = {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if "workload" not in rec:
            continue
        for name, m in rec["metrics"].items():
            out.setdefault((rec["workload"], name), []).append(float(m["value"]))
        out.setdefault((rec["workload"], "failed_frac"), []).append(float(rec["failed_frac"]))
    return out


def summary(values):
    """(median, q1, q3, spread) with the spread as a share of the median."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / abs(med) if med else 0.0


def worsening(a_med, b_med, better):
    """How much B is worse than A, as a share of A (negative = better)."""
    if a_med == 0:
        return 0.0
    d = (b_med - a_med) / abs(a_med)
    return d if better == "lower" else -d


def verdict(a, b, metric):
    bound = metric.get("bound")
    if bound is None:
        return ""
    if a[3] > bound or b[3] > bound:
        return "NOISY"
    return "WORSE" if worsening(a[0], b[0], metric["better"]) > bound else "ok"


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__)
        return 2
    spec = load_spec()
    sets = [load_set(p) for p in argv[1:]]
    keys = sorted(set().union(*sets))
    bad = 0
    for wl in sorted({k[0] for k in keys}):
        print(f"== {wl}")
        for _, name in sorted(k for k in keys if k[0] == wl):
            runs = [s.get((wl, name)) for s in sets]
            if any(r is None for r in runs):
                continue
            stats = [summary(r) for r in runs]
            m = spec.get(name, {})
            cols = "  ".join(f"{s[0]:12.4f} [{s[1]:.4f}, {s[2]:.4f}] sp {s[3]:.3f} n={len(r)}"
                             for s, r in zip(stats, runs))
            line = f"  {name:32s} {cols}"
            if len(stats) == 2:
                v = verdict(stats[0], stats[1], m)
                bad += v in ("WORSE", "NOISY")
                line += f"  worse {worsening(stats[0][0], stats[1][0], m.get('better', 'lower')):+.3f} {v}"
            elif m.get("bound") is not None and stats[0][3] > m["bound"]:
                line += f"  spread over bound {m['bound']}"
                bad += 1
            print(line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
