#!/usr/bin/env python3
"""Operator-path benchmark: pages -> ExtractRunner -> landed table, end to
end and per layer.

    python3 perfbench/run.py --workload crawl_pages --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
harness from source (`sbt -batch writeLaunch` in perfbench/); later runs
reuse that build until a source file changes. Each run starts one JVM
that prints the result JSON as its last stdout line; the exit code is
non-zero when an output is wrong or a call failed. Add `--smoke` for the
sf0.001 smoke scale. Everything the run writes stays under
perfbench/target/.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for base, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(base, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no library sources next to perfbench/ (expected src/main/scala)")
        sys.exit(2)
    log("building library + harness from source")
    env = dict(os.environ, COURSIER_MODE="offline")
    done = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "writeLaunch"],
        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL, env=env)
    if done.returncode != 0 or not os.path.exists(LAUNCH):
        log(f"build failed (sbt exit {done.returncode})")
        sys.exit(done.returncode or 2)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def main(argv):
    build()
    with open(LAUNCH) as f:
        lines = [l for l in f.read().splitlines() if l]
    classpath, flags = lines[0], lines[1:]
    work = os.path.join(TARGET, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark scratch stays inside the checkout: SPARK_LOCAL_DIRS takes
    # precedence over the spark.local.dir that GraftConf sets (the host
    # record reports both).
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java"] + flags + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main"]
           + argv + ["--work", os.path.join(work, "run")])
    try:
        code = subprocess.run(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
