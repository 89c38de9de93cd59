#!/usr/bin/env python3
"""Run one benchmark workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--scale F]

Builds the library sources (src/main/scala) together with the benchmark
code with sbt the first time, and again whenever a source file changes,
then runs the workload in a fresh JVM. The last line of stdout is the
result JSON. Inputs, Spark scratch space and the per-run artifact live
under perfbench/work/.
"""
import argparse
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_INPUTS = [LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")]
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "sources.sha256")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("e1_features", "geo_build", "serve_mix")
HEAP = "3g"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs if f.endswith(".scala"))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(digest):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "compile", "writeClasspath"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    # Class-data-sharing archive of the classes a run loads, recorded by a
    # small pass over every workload; it cuts JVM and session start-up.
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    r = subprocess.run(java_cmd([f"-XX:ArchiveClassesAtExit={ARCHIVE}"], digest) +
                       ["--workload", "all", "--seed", "0", "--seconds", "0", "--trace", "1",
                        "--scale", "0.05", "--work", os.path.join(WORK, "prepare")],
                       cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        fail(f"preparation run failed (exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "none"
    except OSError:
        return "none"


def java_cmd(extra, digest):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", *extra,
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dperfbench.commit={git_commit()}", f"-Dperfbench.sources={digest}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    if not os.path.isdir(LIB_SRC):
        fail(f"library sources not found at {os.path.relpath(LIB_SRC, os.getcwd())}")
    digest = source_digest()
    build(digest)
    cmd = java_cmd([f"-XX:SharedArchiveFile={ARCHIVE}"], digest) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--scale", str(a.scale), "--work", WORK]
    sys.stdout.flush()
    r = subprocess.run(cmd, cwd=ROOT)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
