#!/usr/bin/env python3
"""Run workloads over several seeds and keep the result records as one set.

    python3 perfbench/sweep.py --out DIR [--workloads a,b] [--seeds 1-10]
                               [--seconds S] [--trace 0|1]

Each run goes through run.py exactly as the benchmark driver calls it; the
run's result record is copied into DIR, ready for compare.py or report.py.
Runs that fail are reported and counted in the exit code.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    failures = 0
    for seed in seeds(args.seeds):
        for wl in args.workloads.split(","):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            tag = f"{wl}-s{seed}-t{args.trace}"
            if p.returncode != 0:
                failures += 1
                print(f"{tag}: rc={p.returncode} {p.stderr.strip()[-300:]}", flush=True)
                continue
            shutil.copy(os.path.join(HERE, "out", "results", tag + ".json"), args.out)
            spans = os.path.join(HERE, "out", "results", tag + ".spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, args.out)
            print(f"{tag}: {last}", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
