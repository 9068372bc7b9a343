#!/usr/bin/env python3
"""Streaming benchmark runner.

    python3 streambench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt on first use (the
build in streambench/build.sbt depends on the engine's build one directory
up), then runs one workload in a fresh JVM and prints its result as the
last line of stdout. Work files go under streambench/work/ and are removed
after the run; reports and logs go to streambench/results/. Metric units
come from BENCHMARK.json at the root of the repository.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.json")
STAMP = os.path.join(TARGET, "launch.stamp")
RESULTS = os.path.join(HERE, "results")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ("chapters_steady", "index_maintain")
HEAP = "4g"
RUN_LIMIT_S = 175.0
BUILD_LIMIT_S = 850.0


def source_stamp():
    """Hash of every build input, so an edited source triggers a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
              os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, fs in os.walk(top):
            inputs += [os.path.join(d, f) for f in fs]
    for p in sorted(inputs):
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, log, capture=True):
    """Run `cmd` in its own process group; kill the group on timeout.
    stderr (and stdout unless captured) goes to `log`."""
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stderr=err,
                             stdout=subprocess.PIPE if capture else err,
                             start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, "timed out after %.0f s" % timeout
    return (out, None) if p.returncode == 0 else (out, "exit code %d" % p.returncode)


def fail(msg, log=None):
    print("streambench: " + msg, file=sys.stderr)
    if log and os.path.exists(log):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.exit(1)


def build(stamp):
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(RESULTS, exist_ok=True)
    log = os.path.join(RESULTS, "build.log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    _, err = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       HERE, env, BUILD_LIMIT_S, log, capture=False)
    if err or not os.path.exists(LAUNCH):
        fail("build failed (%s); see %s" % (err or "no launch file", log), log)
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    build(source_stamp())
    t0 = time.time()
    launch = json.load(open(LAUNCH))
    work = os.path.join(HERE, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(RESULTS, exist_ok=True)
    log = os.path.join(RESULTS, "%s-seed%d-trace%s.log" % (a.workload, a.seed, a.trace))
    opts = [o for o in launch["java_options"] if not o.startswith("-Xmx")]
    cmd = (["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp] + opts +
           ["-cp", os.pathsep.join(launch["classpath"]), "graft.streambench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--out", RESULTS])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    # the shipped session config, with no override from the environment
    env.pop("SPARK_GRAFT_INITIAL_PARTITIONS", None)
    try:
        out, err = run_group(cmd, work, env, RUN_LIMIT_S - (time.time() - t0), log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if err or not lines:
        fail("benchmark run failed (%s); see %s" % (err or "no output", log), log)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line: " + lines[-1], log)
    # BENCHMARK.json is the one place that names each metric's unit
    declared = {m["name"]: m["unit"] for m in
                json.load(open(SPEC))["per_layer" if a.trace == "1" else "end_to_end"]}
    if set(result["metrics"]) != set(declared):
        fail("metrics differ from BENCHMARK.json: %s" % sorted(set(result["metrics"]) ^ set(declared)), log)
    result["metrics"] = {k: {"value": v, "unit": declared[k]} for k, v in sorted(result["metrics"].items())}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
