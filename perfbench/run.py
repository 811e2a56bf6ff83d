#!/usr/bin/env python3
"""Benchmark driver: build the program with the benchmark, run one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload mixed|suite|ingest \
        --seed N --seconds S --trace 0|1

The first call compiles ../src/main/scala together with perfbench/src with
sbt (perfbench/build.sbt) into $CARGO_TARGET_DIR (default .bench_build) and
records a digest of the sources; later calls reuse the classes while the
digest matches. Each run starts one JVM (perfbench.Main) whose working
directory and temporary files live in a fresh directory under .bench_tmp/,
deleted when the run ends. Report lines go to stdout, the JVM's logs to
stderr, and the last stdout line is the JSON result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SPARK_JARS = "/opt/spark/jars"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JVM_OPTS = [
    "-Xmx2g",
    "-Dspark.ui.enabled=false",
    "-Dlog4j2.configurationFile=file:" + os.path.join(HERE, "log4j2.properties"),
] + [
    arg
    for pkg in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build(build_dir):
    """Compile if the sources changed since the last build; return classes."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(build_dir, "sources.sha256")
    target = os.path.join(build_dir, "sbt-target")
    classes = os.path.join(target, "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    env = dict(os.environ, PERFBENCH_TARGET=target, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        fail("build failed", 1)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["mixed", "suite", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    # the benchmark measures the program in this checkout: without its
    # sources there is nothing to build
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources at src/main/scala/graft; run from a checkout root")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)

    tmp_root = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=tmp_root)
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp,
           "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--root", ROOT, "--tmp", tmp])
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    lines = out.decode(errors="replace").strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}", 1)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("no result line from the benchmark JVM", 1)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
