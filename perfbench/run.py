#!/usr/bin/env python3
"""Benchmark launcher for the crawl engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call compiles the engine sources
(src/main/scala) together with the benchmark driver (perfbench/scala) using
the Scala compiler that ships in Spark's jar directory, into .bench_build/.
Every call then runs exactly one workload in one plain `java` process (no
sbt), with Spark at local[<nproc>], the heap sized from /proc/meminfo (half
of RAM, clamped to 2-8 GiB), and all Spark scratch and crawl state under
.bench_work/ in the checkout, which is removed when the run ends.

The last line of standard output is the result object; see BENCHMARK.json.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
MAIN = "graft.spider.perfbench.PerfBench"
WORKLOADS = ("crawl_skew", "query_sweep")

# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build compiles against."""
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            fail("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        fail("no Spark jars in %s" % d)
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail("no engine sources at %s: run from the root of a checkout" % engine)
    files = []
    for base in (engine, os.path.join(BENCH, "scala")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile once per source tree; the stamp is a hash of every source."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    out = classes + ".tmp"
    os.makedirs(out)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("Spark's jar directory does not hold the Scala 2.13 compiler")
    with tempfile.NamedTemporaryFile("w", suffix=".args", dir=BUILD,
                                     delete=False) as argf:
        argf.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(jars), "@" + argf.name]
    r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    os.unlink(argf.name)
    if r.returncode != 0:
        fail("compilation failed")
    os.rename(out, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def heap_gib():
    """Half of RAM, clamped to [2, 8] GiB (the tier-1 test rule)."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return max(2, min(8, int(line.split()[1]) // 2097152))
    return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    sources()
    jars = spark_jars()
    classes = build(jars)
    cores = len(os.sched_getaffinity(0))
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx%dg" % heap_gib()]
    cmd += ["--add-opens=" + o for o in ADD_OPENS]
    cmd += ["-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-cp", os.pathsep.join([classes, os.path.join(os.path.dirname(jars[0]), "*")]),
            MAIN,
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--data", os.path.join(BENCH, "data"),
            "--work", work]
    # a terminated launcher still stops the JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    proc = subprocess.Popen(cmd, cwd=work, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = -1
        print("perfbench: run exceeded %d s" % JVM_TIMEOUT_S, file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
