#!/usr/bin/env python3
"""Workload benchmark for graft.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload sync_drift --seed 1 --seconds 12 --trace 0

Builds the program and the harness from source into `.bench_build/`
(see perfbench/build.py), then runs one JVM per invocation with the
harness main `perfbench.Main`; every run maps the class-data-sharing
archive the build recorded. The harness generates the workload's
inputs from the seed, sets up, warms up, measures for `--seconds`,
checks every output and prints one JSON result as the last line of
stdout. `--trace 1` prints the per-layer metrics instead of the
end-to-end ones. Exits nonzero, without a result line, when the build
fails, the run crashes, or any output check fails.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# JIT per workload. serve_mixed is driver-bound (planning, listing, job
# dispatch): in a JVM that lives a minute its ops ran as fast with C1 only
# as with C2, while C2's compiler threads took 24-28 core-seconds of its
# ~23 s measured phase, about one core of four. sync_drift is
# executor-bound: its hash loops ran ~25% slower with C1 only.
JVM_FLAGS = {"sync_drift": [], "serve_mixed": ["-XX:TieredStopAtLevel=1"]}
WORKLOADS = tuple(JVM_FLAGS)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        cp = build.ensure_built(root)
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2

    cmd = build.java_cmd(root, cp, "-XX:SharedArchiveFile=" + build.archive(root)) + JVM_FLAGS[args.workload] + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", os.path.join(root, build.BUILD_DIR)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            env=build.java_env(root))
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = line[len("PERFBENCH_RESULT "):].strip()
            else:
                sys.stderr.write(line)
        code = proc.wait()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or result is None:
        print("perfbench: harness exited with code %d" % code, file=sys.stderr)
        return code or 3
    parsed = json.loads(result)
    print(json.dumps(parsed, sort_keys=False))
    return 0 if parsed.get("correct") else 1


if __name__ == "__main__":
    sys.exit(main())
