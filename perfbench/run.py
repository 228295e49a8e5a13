#!/usr/bin/env python3
"""Run one benchmark workload against the engine in the enclosing checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, offline),
then runs the workload in one JVM on local[4]. Prints a human summary and,
as the last line, one JSON object: {"correct", "attempted", "failed",
"metrics"} -- the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The full record (run context, input digest, failures) is
kept in perfbench/out/results/, and a traced run also writes its spans there.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ["registry_sf0.01", "dedup_3k", "graph_20k", "ingest_incr"]
RUN_LIMIT_S = 170       # one run, after the build
BUILD_LIMIT_S = 840     # the first run in a checkout builds first

ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for d, dirs, fs in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, log_path, limit_s):
    """Run cmd in its own process group; kill the group after limit_s."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def java_cmd(cp, *args):
    cds = os.path.join(OUT, "app.jsa")
    share = ["-XX:SharedArchiveFile=" + cds] if os.path.exists(cds) else []
    return ["java", *ADD_OPENS, *share, "-Xmx2g", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"), "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main", *args, "--root", HERE]


def build():
    """Compile engine + harness to jars once per source state, then record a
    class-data-sharing archive from one cold registry pass so that every later JVM
    starts without re-reading Spark's classes; return the classpath."""
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    rc = run_bounded(["sbt", "--batch", "export Runtime/fullClasspathAsJars"],
                     HERE, env, log, BUILD_LIMIT_S)
    if rc != 0:
        fail(f"build failed (rc={rc}); see {log}", 3)
    with open(log) as f:
        lines = [l.strip() for l in f if ".jar" in l and os.pathsep in l]
    if not lines:
        fail(f"no classpath in {log}", 3)
    cp = lines[-1]
    cds = os.path.join(OUT, "app.jsa")
    if os.path.exists(cds):
        os.remove(cds)
    train = java_cmd(cp, "--train", "1")
    train.insert(1, "-XX:ArchiveClassesAtExit=" + cds)
    if run_bounded(train, ROOT, dict(os.environ), os.path.join(OUT, "cds-train.log"),
                   BUILD_LIMIT_S) != 0 and os.path.exists(cds):
        os.remove(cds)  # an archive is only a start-up saving; run without it
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    for need in ("build.sbt", "src/main/scala/graft", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at the checkout root: nothing to benchmark")
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for d in ("results", "logs", "tmp"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)

    cp = build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    result = os.path.join(OUT, "results", tag + ".json")
    if os.path.exists(result):
        os.remove(result)
    cmd = java_cmd(cp, "--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", result)
    log = os.path.join(OUT, "logs", tag + ".log")
    rc = run_bounded(cmd, ROOT, dict(os.environ), log, RUN_LIMIT_S)
    if rc != 0 or not os.path.exists(result):
        fail(f"run failed (rc={rc}); see {log}", 4)
    with open(result) as f:
        rec = json.load(f)

    want = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in rec["metrics"].items()}
    if got != want:
        fail(f"metric set differs from BENCHMARK.json: {sorted(set(got) ^ set(want))}", 5)
    ctx = rec["context"]
    print(f"workload {rec['workload']} seed {rec['seed']} trace {rec['trace']} "
          f"passes {rec['passes']} window {rec['window_s']:.2f} s input {rec['input_digest'][:16]}")
    print(f"context cpus {ctx['cpus']} threads {ctx['spark_threads']} load_1m "
          f"{ctx['load_1m_before']}->{ctx['load_1m_after']} host steal "
          f"{ctx['window_steal_s']:.2f} s calibration "
          f"{ctx['calibration_s']:.3f} s heap_max {ctx['heap_max_mb']:.0f} MB")
    for name, m in sorted(rec["metrics"].items()):
        print(f"  {name:34s} {m['value']:14.4f} {m['unit']}")
    print(f"  {'failed_frac':34s} {rec['failed_frac']:14.4f} ratio "
          f"({rec['failed']} of {rec['attempted']} ops)")
    for msg in rec["failures"]:
        print("  failure: " + msg)
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": rec["metrics"]}))


if __name__ == "__main__":
    main()
