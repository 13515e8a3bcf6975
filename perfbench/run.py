#!/usr/bin/env python3
"""Audience-request and curation benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload discovery --seed 1 --seconds 15 --trace 0

Builds the library (src/main/scala) and the benchmark (perfbench/src)
with the Scala compiler shipped in the Spark distribution, into
.bench_build/ (rebuilt only when a source changes), then runs one
workload in a fresh JVM and prints its metrics. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; the lines before it are the human-readable report.

Everything the run writes stays under .bench_build/ in the working
directory. SPARK_HOME, or else the spark-submit on PATH, locates the Spark
jars.
"""
import argparse
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("discovery", "signal_scan", "curation")
# A run gets a fixed allowance (JVM and Spark start, set-ups,
# warm-up, checks, the op still running when time is up) plus three times
# its measured seconds; at --seconds 15 that is 155 s.
RUN_FIXED_S = 110
BUILD_TIMEOUT_S = 600

# Spark on JDK 17 needs these when a session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    files = []
    for top in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(root, top, "**", "*.scala"), recursive=True)
    return sorted(files)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        fail("no Spark jars found; set SPARK_HOME")
    return jars


def build(root, out):
    """Compile library + benchmark into out/classes unless up to date."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        fail("src/main/scala not found: run from the repository root")
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs + jars:
        h.update(os.path.relpath(f, root).encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes, jars
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        args_file = os.path.join(out, "scalac.args")
        with open(args_file, "w") as fh:
            fh.write("\n".join(["-nowarn", "-d", tmp, "-classpath", ":".join(jars)] + srcs))
        t0 = time.time()
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                            "-cp", ":".join(compiler),
                            "scala.tools.nsc.Main", "@" + args_file],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            fail("build failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f}s",
              file=sys.stderr)
        return classes, jars


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int,
                    help="override the input size (corpus posts, or documents per "
                         "curation batch) for sizing studies")
    a = ap.parse_args()
    run_timeout = RUN_FIXED_S + 3 * a.seconds

    root = os.getcwd()
    out = os.path.join(root, ".bench_build")
    classes, jars = build(root, out)

    tag = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(out, "work", tag)
    result = os.path.join(work, "result.json")
    spans = os.path.join(out, "trace", f"{a.workload}-seed{a.seed}"
                         f"{f'-size{a.size}' if a.size else ''}.jsonl")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(out, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join([classes] + jars), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--result", result, "--spans", spans]
           + (["--size", str(a.size)] if a.size else []))
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                stdout, _ = proc.communicate(timeout=run_timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {run_timeout:.0f}s (log: {log_path})")
        sys.stdout.write(stdout)
        if proc.returncode != 0 or not os.path.exists(result):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"run failed with exit code {proc.returncode}")
        with open(result) as fh:
            line = fh.read().strip()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line)


if __name__ == "__main__":
    main()
