#!/usr/bin/env python3
"""Served-path benchmark launcher.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tpch_mix --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt on first use
(outputs under .bench_build/ and the sbt target directories), then runs
one workload in a fresh JVM. The JVM prints one `workload metric value
unit` line per metric and writes its full record to
.bench_build/results/. The last line printed here is the JSON summary,
holding the metrics BENCHMARK.json lists for this mode: its end_to_end
metrics with --trace 0, its per_layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("tpch_mix", "ycsb_point", "lake_ingest")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"]
    for rel in roots:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    h.update(HEAP.encode())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, stdout=None):
    """Run cmd in its own process group; on timeout kill the whole group."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, start_new_session=True)
    try:
        return proc, proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return proc, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(root, build_dir, env):
    """Compile with sbt and record the runtime classpath and JVM options."""
    stamp_file = os.path.join(build_dir, "stamp")
    launch = os.path.join(build_dir, "launch.txt")
    stamp = source_stamp(root)
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return launch
    if shutil.which("sbt") is None:
        fail("sbt not found")
    benv = dict(env, SPARK_DRIVER_MEM=HEAP)
    benv.setdefault("COURSIER_MODE", "offline")
    benv.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    _, code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                          os.path.join(root, "perfbench"), benv, BUILD_TIMEOUT_S,
                          stdout=sys.stderr)
    if code != 0 or not os.path.exists(launch):
        fail(f"build failed (exit {code})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return launch


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = [m["name"] for m in spec["end_to_end" if a.trace == "0" else "per_layer"]]

    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    with open(build(root, build_dir, env)) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if o]

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(build_dir, "results", f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", *jvm_opts, f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work, "--out", out]
    try:
        t0 = time.time()
        _, code = run_bounded(cmd, root, env, RUN_TIMEOUT_S)
        sys.stdout.flush()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(out):
        fail(f"run failed (exit {code}) after {time.time() - t0:.1f} s")
    with open(out) as fh:
        record = json.load(fh)
    missing = [n for n in wanted if n not in record["metrics"]]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    summary = {
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {n: record["metrics"][n] for n in wanted},
    }
    print(json.dumps(summary, separators=(",", ":")))
    return 0 if record["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
