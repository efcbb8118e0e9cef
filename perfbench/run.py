#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt into $CARGO_TARGET_DIR (default .bench_build);
later runs reuse the build while the sources are unchanged. Everything the
run writes (build, generated inputs, Spark scratch, span files) stays under
that directory. The JVM's own output goes to stderr; stdout carries only the
result object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--selftest` runs the harness's own tests instead.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HOME = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HOME)
WORKLOADS = ("serve_mixed", "etl_publish")
RUN_LIMIT_S = 170
PREPARE_LIMIT_S = 300
BUILD_LIMIT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HOME, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HOME, "build.sbt")
    yield os.path.join(HOME, "project", "build.properties")


def stamp():
    h = hashlib.sha256()
    for f in sorted(source_files()):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_sbt(target, task, limit):
    """Runs an sbt task on a copy of the build definition under `target`."""
    proj = os.path.join(target, "sbt-project")
    os.makedirs(os.path.join(proj, "project"), exist_ok=True)
    shutil.copy(os.path.join(HOME, "build.sbt"), proj)
    shutil.copy(os.path.join(HOME, "project", "build.properties"),
                os.path.join(proj, "project"))
    env = dict(os.environ, PERFBENCH_HOME=HOME, PERFBENCH_TARGET=os.path.join(target, "sbt"))
    tmp = os.path.join(target, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                           f"-Djava.io.tmpdir={tmp}", task], cwd=proj,
                          env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=limit,
                          check=False).returncode


def build(target):
    cp_file = os.path.join(target, "sbt", "classpath.txt")
    stamp_file = os.path.join(target, "build.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return cp_file
    log("building the engine and harness from source")
    if run_sbt(target, "writeClasspath", BUILD_LIMIT_S) != 0:
        raise SystemExit("build failed")
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp_file


def run_jvm(target, classpath, args, work, data, out, limit):
    """Runs perfbench.Main in its own JVM; returns its exit code."""
    cmd = ["java", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(target, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HOME, 'log4j2.properties')}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args + [
        "--work", work, "--data", data, "--out", out or os.path.join(work, "unused")]
    env = dict(os.environ, GRAFT_CITY_DATA=os.path.join(data, "cities-serve"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {limit} s; stopping it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return 3
    finally:
        # the JVM's private Spark scratch space (Harness.session)
        shutil.rmtree(os.path.join(work, f"spark-{proc.pid}"), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        log(f"no engine sources under {ROOT}/src: run from a full checkout")
        return 2
    target = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(target, exist_ok=True)
    if a.selftest:
        return run_sbt(target, "test", BUILD_LIMIT_S)
    if a.workload is None:
        ap.error("--workload is required")
    with open(build(target)) as f:
        classpath = f.read().strip()

    work = os.path.join(target, "work")
    data = os.path.join(target, "data")
    os.makedirs(work, exist_ok=True)
    os.makedirs(os.path.join(target, "tmp"), exist_ok=True)
    # the serving inputs are generated once per build directory, in a JVM of
    # their own, so that no run's measured set-up starts in a warmed JVM
    if a.workload == "serve_mixed" and not os.path.exists(os.path.join(data, "serving.complete")):
        log("generating the serving inputs")
        if run_jvm(target, classpath, ["--workload", "prepare"], work, data, None, PREPARE_LIMIT_S) != 0:
            raise SystemExit("generating the serving inputs failed")
    out = os.path.join(work, f"result-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    code = run_jvm(target, classpath,
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace)], work, data, out, RUN_LIMIT_S)
    if code != 0 or not os.path.exists(out):
        log(f"run failed (exit {code})")
        return 1
    with open(out) as f:
        result = f.read().strip()
    os.remove(out)
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
