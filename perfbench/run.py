#!/usr/bin/env python3
"""Collector benchmark runner.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload live_mix --seed 1 --seconds 12 --trace 0

Builds the collector and the benchmark from source (sbt, once per source
state; output under .bench_build/ and the sbt target directories), runs one
benchmark JVM, and prints as its last line one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics that
BENCHMARK.json declares with `--trace 0`, its per-layer metrics with
`--trace 1` (every measured metric is printed on the lines before). A traced run also
prints each end-to-end metric next to the median of the untraced runs of
the same workload and source state, and writes a span file under
.bench_build/perfbench/spans/. Exits non-zero without a result line when
the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

OUT = os.path.join(".bench_build", "perfbench")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = ["-Xms3g", "-Xmx3g"]

# files whose content decides whether the build is current
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def git_commit():
    if not os.path.isdir(".git"):
        return "none (not a git checkout)"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def build(stamp):
    """Compile with sbt unless the launch line for this source state exists."""
    launch = os.path.join(OUT, "launch.txt")
    stamp_file = os.path.join(OUT, "launch.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(launch) as f2:
                    return f2.read().splitlines()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(OUT, "build.log")
    t0 = time.time()
    with open(log, "w") as lf:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLauncher"],
                               cwd="perfbench", stdout=lf, stderr=subprocess.STDOUT,
                               env=env, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log})")
    if p.returncode != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"build failed (log: {log})")
    shutil.copy(os.path.join("perfbench", "target", "launch.txt"), launch)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s")
    with open(launch) as f:
        return f.read().splitlines()


def run_jvm(launch, args, work, log):
    """Run the benchmark JVM; its temporary files stay under `work`."""
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    opts = [o for o in launch if not o.startswith(("-Xmx", "-Xms"))]
    cmd = ["java"] + HEAP + [f"-Djava.io.tmpdir={tmp}"] + opts + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--spans", os.path.join(OUT, "spans")]
    lines = []
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, text=True, env=env)

        def relay():
            for line in p.stdout:
                if line.startswith("PERFBENCH_RESULT "):
                    lines.append(line)
                else:
                    sys.stdout.write(line)
                    sys.stdout.flush()
        reader = threading.Thread(target=relay, daemon=True)
        reader.start()
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log})")
        reader.join(timeout=10)
    result = json.loads(lines[-1][len("PERFBENCH_RESULT "):]) if lines else None
    if p.returncode != 0 or result is None:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"benchmark JVM exited with {p.returncode} (log: {log})")
    return result


def compare_with_untraced(result, history, stamp):
    """Print each traced end-to-end metric beside the untraced median."""
    rows = []
    if os.path.exists(history):
        with open(history) as f:
            rows = [json.loads(l) for l in f if l.strip()]
    meta = result["meta"]
    rows = [r for r in rows if r["stamp"] == stamp and r["meta"]["workload"] == meta["workload"]
            and r["meta"]["seconds"] == meta["seconds"]]
    print(f"[perfbench] tracing overhead (traced - median of {len(rows)} untraced runs"
          " of this workload, window and source state):")
    for name, m in result["e2e"].items():
        base = [r["e2e"][name] for r in rows if name in r["e2e"]]
        if base:
            med = statistics.median(base)
            print(f"  {name:<16} traced {m['value']:>12.4f} untraced {med:>12.4f} "
                  f"diff {m['value'] - med:>+12.4f} {m['unit']}")
        else:
            print(f"  {name:<16} traced {m['value']:>12.4f} untraced (no runs) {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["live_mix", "pixel_flood"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for f in ["BENCHMARK.json", "build.sbt", "src/main/scala/graft/CollectorMain.scala",
              "perfbench/build.sbt"]:
        if not os.path.isfile(f):
            fail(f"{f} not found: run from the root of a collector checkout")

    stamp = source_stamp()
    launch = build(stamp)
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run_jvm(launch, args, work, os.path.join(OUT, f"jvm-{tag}.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    meta = dict(result["meta"], commit=git_commit(), source_sha256=stamp)
    print("[perfbench] run metadata: " + json.dumps(meta, sort_keys=True))
    history = os.path.join(OUT, "untraced.jsonl")
    if args.trace == 0:
        with open(history, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed, "stamp": stamp,
                                "meta": meta,
                                "e2e": {k: v["value"] for k, v in result["e2e"].items()}}) + "\n")
    else:
        compare_with_untraced(result, history, stamp)
    # the result carries the metrics BENCHMARK.json declares for this mode
    with open("BENCHMARK.json") as f:
        declared = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    measured = result["layer"] if args.trace else result["e2e"]
    missing = [n for n in declared if n not in measured]
    if missing:
        fail(f"metrics declared in BENCHMARK.json but not measured: {missing}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": measured[n]["value"], "unit": measured[n]["unit"]}
                    for n in declared},
    }))


if __name__ == "__main__":
    main()
