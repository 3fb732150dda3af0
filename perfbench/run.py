#!/usr/bin/env python3
"""Build and run the benchmark.

    python3 perfbench/run.py --workload backup|restore|curate --seed N \
        --seconds S --trace 0|1 [--tiny]

Run from the repository root. The harness compiles the library sources
(src/main/scala) together with perfbench/src with sbt, once per source
state, then runs it with plain `java` against Spark's jars ($SPARK_HOME, or
the Spark found through `spark-submit` on PATH). Backup roots, Spark scratch
and temp files live in .bench_work/ and are removed afterwards; traced runs
leave their span file in .bench_out/. The last stdout line is the result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
BUILD_STAMP = os.path.join(BENCH, "target", "perfbench-sources.sha256")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
XMX = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def source_digest():
    """sha256 over every input of the build: library and harness sources."""
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group if the run is cut
    short (timeout, SIGTERM, Ctrl-C) and wait for it, so nothing outlives us."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return 3


def build(home):
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as fh:
            if fh.read().strip() == digest:
                return digest
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    log = os.path.join(BENCH, "target", "perfbench-build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "wb") as out:
        code = run_child([sbt, "-batch", "compile"], BUILD_TIMEOUT_S, cwd=BENCH,
                         env=dict(os.environ, SPARK_HOME=home), stdout=out,
                         stderr=subprocess.STDOUT)
    if code != 0:
        with open(log, "rb") as fh:
            sys.stderr.write(fh.read().decode(errors="replace")[-4000:])
        fail("build failed")
    with open(BUILD_STAMP, "w") as fh:
        fh.write(digest)
    return digest


def commit_id(digest):
    """The git commit when the tree is a git checkout, plus the source digest."""
    try:
        git = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        head = git.stdout.strip() if git.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        head = ""
    return (head + "+" if head else "") + f"src-{digest[:16]}"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["backup", "restore", "curate"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    p.add_argument("--tiny", action="store_true", help="self-check input sizes")
    a = p.parse_args()
    # SIGTERM unwinds like Ctrl-C, so run_child stops the build or the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {LIB_SRC}")
    home = spark_home()
    digest = build(home)

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    t0_ms = int(time.time() * 1000)  # set-up time counts from JVM launch
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Xmx{XMX}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile=file://{BENCH}/conf/log4j2.properties",
            "-cp", f"{CLASSES}{os.pathsep}{os.path.join(home, 'jars', '*')}",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--out", os.path.join(ROOT, ".bench_out"), "--t0-ms", str(t0_ms),
            "--commit", commit_id(digest)]
    if a.tiny:
        cmd.append("--tiny")
    try:
        code = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
