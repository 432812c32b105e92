#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --profile         # rewrite refs/ from the whole catalog

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) into the build directory ($CARGO_TARGET_DIR,
default .bench_build) and reuses the build while no source changes.
The harness runs in its own JVM, with the engine's own JVM options
(build.sbt javaOptions: heap size and module opens) and the default
collector; this script prints its summary lines
and, last, one JSON line holding exactly the metrics BENCHMARK.json
declares for the mode (end_to_end with --trace 0, per_layer with 1).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(BENCH, "data", "sf0.1")
REFS = os.path.join(BENCH, "refs", "sf0.1.tsv")
PROFILE = os.path.join(BENCH, "refs", "profile-sf0.1.tsv")
WORKLOADS = ("batch-overhead", "stream-keyed")
# Per-layer metrics of layers a workload never enters read 0 there:
# the batch workload runs no streaming query, the stream workload runs
# no catalog query.
NOT_RUN = {
    "batch-overhead": ("streaming.", "state.", "sources."),
    "stream-keyed": ("queries.", "plans.", "family.", "query.", "repeat.",
                     "storage.held_growth_bytes", "storage.after_stop_bytes"),
}
JVM_TIMEOUT_S = 170
PROFILE_TIMEOUT_S = 1800
MAX_CPUS = 4


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build depends on, engine and harness."""
    out = ["build.sbt"]
    for top in ("project", "src/main", os.path.join(BENCH, "project"), os.path.join(BENCH, "src")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    return out + [os.path.join(BENCH, "build.sbt")]


def build(build_dir):
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    launch = os.path.join(build_dir, "launch.txt")
    stamp_file = os.path.join(build_dir, "build.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return launch
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_LAUNCH=os.path.abspath(launch))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"]
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(launch):
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return launch


def check_data():
    with open(os.path.join(DATA, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(DATA, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    fail(f"{name} does not match SHA256SUMS")


def run_jvm(launch, build_dir, args, timeout=JVM_TIMEOUT_S):
    with open(launch) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if o]
    run_dir = os.path.join(build_dir, "work", str(os.getpid()))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(min(MAX_CPUS, os.cpu_count() or 1)),
               SPARK_LOCAL_DIRS=os.path.abspath(os.path.join(run_dir, "spark-local")))
    env.pop("SPARK_GRAFT_PROMETHEUS", None)
    cmd = (["java"] + jvm_opts +
           [f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
            f"-Dspark.sql.warehouse.dir={os.path.abspath(os.path.join(run_dir, 'warehouse'))}",
            "-cp", classpath, "graft.perfbench.Main",
            "--data", DATA, "--work", run_dir,
            "--traces", os.path.join(build_dir, "traces")] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"harness did not finish within {timeout} s")
    shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        sys.stdout.write(out)
        fail(f"harness exited with code {proc.returncode}")
    return out


def select(result, workload, trace):
    """Exactly the metrics BENCHMARK.json declares for this mode."""
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    out = {}
    for m in spec:
        name, unit = m["name"], m["unit"]
        if name in got:
            v = got[name]
            if v["unit"] != unit:
                fail(f"{name} measured in {v['unit']}, declared {unit}")
        elif trace and name.startswith(NOT_RUN[workload]):
            v = {"value": 0, "unit": unit}
        else:
            fail(f"metric {name} was not measured")
        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            fail(f"metric {name} has no finite value: {v['value']}")
        out[name] = {"value": v["value"], "unit": unit}
    result["metrics"] = out
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--profile", action="store_true")
    a = ap.parse_args()
    if not a.profile and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    for f in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(f):
            fail(f"{f} not found: run from the root of a checkout of the engine")
    check_data()
    build_dir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    launch = build(build_dir)
    if a.profile:
        run_jvm(launch, build_dir, ["--profile", PROFILE, "--refs", REFS], PROFILE_TIMEOUT_S)
        return
    out = run_jvm(launch, build_dir, ["--workload", a.workload, "--seed", str(a.seed),
                                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                                      "--refs", REFS])
    lines = out.splitlines()
    results = [l for l in lines if l.startswith('{"correct"')]
    if not results:
        sys.stdout.write(out)
        fail("harness printed no result")
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    print(json.dumps(select(json.loads(results[-1]), a.workload, a.trace)))


if __name__ == "__main__":
    main()
