#!/usr/bin/env python3
"""Benchmark runner for the graft engine: builds the engine and the
benchmark from source, then runs one workload in one JVM.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. Everything the run builds or writes stays under the
current directory (.bench_build/, .bench_data/, .bench_work/).
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_LIMIT_S = 170
# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The jars build.sbt compiles against (its unmanagedBase), else
    $SPARK_HOME/jars."""
    sbt = os.path.join(root, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(sbt).read() if os.path.isfile(sbt) else "")
    if m:
        jars = m.group(1)
    elif "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        fail("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars under {jars}")
    return os.path.join(jars, "*")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        fail(f"no engine sources under {os.path.join(root, 'src', 'main', 'scala')}")
    if not bench:
        fail(f"no benchmark sources under {os.path.join(HERE, 'src')}")
    return engine + bench


def build(root, jars):
    """Compiles engine + benchmark into .bench_build/<source hash>/classes."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    base = os.path.join(root, ".bench_build", "perfbench")
    out = os.path.join(base, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isfile(os.path.join(out, "OK")):
        return classes
    if os.path.isdir(base):
        shutil.rmtree(base)
    os.makedirs(classes)
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars,
                        "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", classes] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compile failed")
    open(os.path.join(out, "OK"), "w").close()
    print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    jars = spark_jars(root)
    classes = build(root, jars)

    work = os.path.join(root, ".bench_work")
    tmp = os.path.join(work, "tmp")
    # each run starts from an empty scratch area: layout verbs and streams
    # write under java.io.tmpdir, and a previous run's files must not leak in
    for d in (tmp, os.path.join(work, "spark-local"), os.path.join(work, "warehouse")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    expected = os.path.join(HERE, "expected.tsv")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # no hsperfdata file under the system temp dir: the run writes
           # only inside the checkout
           ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", root, "--expected", expected])
    limit = max(10, RUN_LIMIT_S - (time.time() - t_start))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {limit:.0f}s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        if lines:
            print(lines[-1])
        fail(f"run failed (exit {proc.returncode})")
    print(lines[-1])


if __name__ == "__main__":
    main()
