#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It compiles graft (src/main) together with
the benchmark harness (perfbench/src) into .bench_build/, generates the
seeded inputs (gen.py), runs the workload in one JVM (local Spark, all
scratch under .bench_build/), and prints the result as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 1 the
metrics are the per-layer ones and the spans are kept in
.bench_build/results/. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
WORKLOADS = ("chat", "analytics")
RUN_LIMIT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, BENCH)
import gen  # noqa: E402


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("no Spark found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        die("no jars directory under " + home)
    return jars


def sources():
    out = []
    for top in (PROGRAM, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile graft and the harness once per source tree; return the classes dir."""
    if not os.path.isdir(PROGRAM):
        die("graft sources not found at src/main/scala: run from a graft checkout")
    files = sources()
    key = hashlib.sha256()
    for f in files:
        key.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            key.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(BUILD, "classes-" + key.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        die("compile failed")
    open(os.path.join(classes, ".complete"), "w").close()
    print("perfbench: compiled %d sources in %.1f s" % (len(files), time.time() - t0),
          file=sys.stderr)
    return classes


def run_jvm(cmd, log, limit):
    """Run the harness in its own process group; kill the group on timeout."""
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                cwd=ROOT, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            die("run exceeded %d s" % limit)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description="graft benchmark: one workload run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    t_start = time.time()  # the 170 s run budget starts after a build

    tag = "%s-s%d-t%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(BUILD, "runs", "%s-%d" % (tag, os.getpid()))
    results = os.path.join(BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    try:
        gen.write(args.seed, os.path.join(work, "inputs"))
        cp = os.pathsep.join([classes, RESOURCES, os.path.join(jars, "*")])
        cmd = (["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xss8m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
               + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
               + ["-cp", cp, "perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds),
                  "--trace", str(args.trace),
                  "--inputs", os.path.join(work, "inputs"), "--work", work,
                  "--summary-out", os.path.join(results, tag + ".summary.json")]
               + (["--trace-out", os.path.join(results, tag + ".trace.jsonl")]
                  if args.trace else []))
        log = os.path.join(results, tag + ".stderr.log")
        code, out = run_jvm(cmd, log, RUN_LIMIT_S - (time.time() - t_start))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die("harness exited %d without a result line" % code)
    if code != 0:
        die("harness exited %d" % code)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
