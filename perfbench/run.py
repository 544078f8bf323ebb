#!/usr/bin/env python3
"""Entry point of the perfbench benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run compiles the harness
together with the engine sources (sbt, in perfbench/); later runs reuse the
classes until a source file changes. Each run starts one JVM with a
single-client Spark session at local[nproc], in its own temp root under
.bench_build/runs/, and deletes that root when it ends. The JVM prints one
JSON result as its last stdout line; this script passes it through. Traced
runs also leave their spans in .bench_out/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
STAMP = os.path.join(BUILD, "perfbench.stamp")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build compiles, by path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        if os.path.isfile(root):
            paths = [root]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: compiling the harness and engine sources", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "Compile/products"], cwd=HERE,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S,
                           start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a full checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME/jars not found")
    build()

    root = os.path.join(BUILD, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(root, "tmp"))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={root}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{spark_home}/jars/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--root", root, "--out", os.path.join(REPO, ".bench_out")])
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override the run's own spark.local.dir
    proc = subprocess.Popen(cmd, cwd=REPO, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        fail("run timed out", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(root, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"run failed (exit {proc.returncode})", 4)
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(lines[-1])


if __name__ == "__main__":
    main()
