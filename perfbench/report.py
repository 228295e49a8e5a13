#!/usr/bin/env python3
"""Per-layer report of traced benchmark runs.

    python3 perfbench/report.py [SET_DIR]      (default perfbench/out/results)

For every workload with traced records (`--trace 1`) in SET_DIR it prints one
row per layer (span name), per pass of the timed window and as medians over
the traced runs: calls, total time, self time (the span's time minus the part
its child spans cover), self time as a share of the pass, and the executor
counts of jobs started directly inside the layer (jobs, tasks, executor CPU,
shuffle written). It then prints the tracing overhead: the traced pass time
(`trace.wall_s`) minus the untraced one (`wall_s`) of the same seeds.
"""
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def layer_rows(spans, passes):
    """{layer: {calls, total_s, self_s, jobs, tasks, cpu_s, shuffle_mb}} per pass."""
    rows = defaultdict(lambda: defaultdict(float))
    for s in spans:
        r = rows[s["name"]]
        c = s.get("counts", {})
        r["calls"] += 1
        r["total_s"] += (s["end_ns"] - s["start_ns"]) / 1e9
        r["self_s"] += s["self_ns"] / 1e9
        r["jobs"] += c.get("jobs", 0)
        r["tasks"] += c.get("tasks", 0)
        r["cpu_s"] += c.get("cpu_ns", 0) / 1e9
        r["shuffle_mb"] += c.get("shuffle_write_b", 0) / 1048576
    return {k: {m: v / passes for m, v in r.items()} for k, r in rows.items()}


def load(set_dir):
    traced, plain = defaultdict(list), defaultdict(dict)
    for f in sorted(glob.glob(os.path.join(set_dir, "*.json"))):
        with open(f) as fh:
            rec = json.load(fh)
        if rec.get("trace") == 1:
            spans_file = f[:-len(".json")] + ".spans.jsonl"
            if os.path.exists(spans_file):
                with open(spans_file) as fh:
                    spans = [json.loads(l) for l in fh if l.strip()]
                traced[rec["workload"]].append((rec, spans))
        elif rec.get("trace") == 0:
            plain[rec["workload"]][rec["seed"]] = rec
    return traced, plain


def main(argv):
    set_dir = argv[1] if len(argv) > 1 else os.path.join(HERE, "out", "results")
    traced, plain = load(set_dir)
    if not traced:
        print(f"no traced records in {set_dir}")
        return 1
    cols = ["calls", "total_s", "self_s", "share", "jobs", "tasks", "cpu_s", "shuffle_mb"]
    for wl, runs in sorted(traced.items()):
        per_run = []
        for rec, spans in runs:
            rows = layer_rows(spans, rec["passes"])
            pass_s = rows.get("pass", {}).get("total_s", 0.0)
            for r in rows.values():
                r["share"] = r["self_s"] / pass_s if pass_s else 0.0
            per_run.append(rows)
        print(f"== {wl}  ({len(runs)} traced runs, values per pass, medians)")
        print(f"  {'layer':28s}" + "".join(f"{c:>11s}" for c in cols))
        names = sorted({n for rows in per_run for n in rows},
                       key=lambda n: -statistics.median(r.get(n, {}).get("self_s", 0) for r in per_run))
        for n in names:
            vals = [statistics.median(r.get(n, {}).get(c, 0.0) for r in per_run) for c in cols]
            print(f"  {n:28s}" + "".join(f"{v:11.3f}" for v in vals))
        pairs = [(rec["metrics"]["trace.wall_s"]["value"],
                  plain[wl][rec["seed"]]["metrics"]["wall_s"]["value"])
                 for rec, _ in runs if rec["seed"] in plain[wl]]
        if pairs:
            t = statistics.median(p[0] for p in pairs)
            u = statistics.median(p[1] for p in pairs)
            print(f"  tracing overhead: traced {t:.3f} s - untraced {u:.3f} s = {t - u:+.3f} s "
                  f"({(t - u) / u:+.1%}) per pass, {len(pairs)} seed pairs")
        else:
            print("  tracing overhead: no untraced run of the same seeds in this set")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
