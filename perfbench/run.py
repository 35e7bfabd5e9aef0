#!/usr/bin/env python3
"""One benchmark run, from the root of a checkout:

    python3 perfbench/run.py --workload <extract|query_suite|extract_mixed|extract_pdf>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program together with the benchmark driver from the checkout's
sources (scalac, only when a source changed), runs the workload in one JVM and
prints the JVM's report; the last line is the JSON result. `--repin` rewrites
the pinned query fingerprints of the seed's table variant from this run.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "run")
SPARK_JARS = "/opt/spark/jars"
WORK = os.path.join(ROOT, ".bench_work")
PINS = os.path.join(BENCH, "pins")
WORKLOADS = ("extract", "query_suite", "extract_mixed", "extract_pdf")
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as the root build.sbt)
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """The Scala sources the benchmark compiles: the program's and its own."""
    files = []
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main", "scala")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return files


def source_stamp(files):
    h = hashlib.sha256(SPARK_JARS.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the sources with the Scala compiler that ships with the Spark
    jars, when they differ from the last build, and returns the run classpath.
    The compiler runs as a plain JVM, so the build reads only the checkout and
    the jars and writes only under .bench_build/."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found; run from the repository root")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        fail(f"no Scala compiler among the Spark jars in {SPARK_JARS}")
    files = sources()
    stamp = source_stamp(files)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    classpath = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                                 os.path.join(SPARK_JARS, "*")])
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp)
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(f'"{a}"' for a in ["-d", classes, "-classpath", os.path.join(SPARK_JARS, "*"),
                                               "-nowarn", *files]) + "\n")
    try:
        r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                            "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main", f"@{args}"],
                           stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (scalac exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def repin(lines):
    variant = next(re.search(r"query tables: variant (\d+)", l).group(1)
                   for l in lines if "query tables: variant" in l)
    pins = sorted(f"{m.group(1)}\t{m.group(2)}" for m in
                  (re.search(r"\] query (\S+) .* fp (\d+:[0-9a-f]+)$", l) for l in lines) if m)
    with open(os.path.join(PINS, f"queries-v{variant}.tsv"), "w") as f:
        f.write("\n".join(pins) + "\n")
    print(f"pinned {len(pins)} fingerprints for variant {variant}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repin", action="store_true")
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the JVM parses the seed as a 64-bit integer
    seed = a.seed % (1 << 63)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={work}/tmp", *ADD_OPENS,
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--pins", PINS]
    # the program's scratch directories (streaming inputs, checkpoints) stay in the run's directory
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            env=env)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.move(spans, os.path.join(WORK, "traces", f"{a.workload}-{seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not result:
        sys.stderr.write(err[-4000:])
        fail(f"run failed (exit {proc.returncode})")
    for l in lines:
        if not l.startswith("PERFBENCH_RESULT "):
            print(l)
    if a.repin:
        repin(lines)
    res = json.loads(result[-1][len("PERFBENCH_RESULT "):])
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
