#!/usr/bin/env python3
"""graft benchmark: build the program from source and run one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke [--data DIR]

Run from the root of a checkout. The first form compiles src/main/scala
and the harness in perfbench/src with the Scala compiler that ships in
the Spark distribution (cached in .bench_build/ by a hash of the
sources), runs one workload in a fresh JVM, and prints the run's JSON
result as the last line of standard output. The smoke form runs every
workload in BENCHMARK.json once, briefly, traced and untraced, and
checks that each prints every metric with the unit BENCHMARK.json
gives; --data points the harness at an existing table directory
instead of generated inputs. See perfbench/README.md.
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
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "graftbench")
WORK = os.path.join(ROOT, ".bench_work")
RUN_TIMEOUT_S = 170
# dashboard_mix plans many distinct short queries: with the default
# compile thresholds its driver code is still warming up 48 s into a
# window, so its JVM compiles hot code sooner. The batch workloads keep
# the defaults (earlier compilation costs them CPU).
JVM_FLAGS = {"dashboard_mix": ["-XX:CompileThresholdScaling=0.1"]}
# Implemented and checked by --smoke, but left out of BENCHMARK.json
# (see perfbench/README.md).
EXTRA_WORKLOADS = ["corpus_release"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    dirs = [os.path.join(os.environ["SPARK_HOME"], "jars")] if os.environ.get("SPARK_HOME") else []
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        pass
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    die("no Spark jars found: set SPARK_HOME")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not prog:
        die("no program sources under src/main/scala: run from the root of a graft checkout")
    if not bench:
        die("no harness sources under perfbench/src")
    return prog + bench


def build(jars):
    """Compile program + harness once per distinct source tree."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    compiler = ":".join(glob.glob(os.path.join(jars, "scala-*.jar")))
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    cmd = ["java", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + BUILD, "-Xmx2g", "-Xss8m",
           "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        die("compilation failed", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def run_once(classes, jars, workload, seed, seconds, trace, data=None, smoke=False):
    """One JVM run of one workload; returns the parsed result or None."""
    work = os.path.join(WORK, f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"] +
           JVM_FLAGS.get(workload, []) +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.callstack.depth=80",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classes + ":" + os.path.join(jars, "*"), "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--root", ROOT, "--work", work])
    if data:
        cmd += ["--data", os.path.abspath(data)]
    if smoke:
        cmd += ["--smoke", "1"]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: {workload} timed out", file=sys.stderr)
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: {workload} exited {proc.returncode}", file=sys.stderr)
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return None
    if set(res) != {"correct", "attempted", "failed", "metrics"} or res["attempted"] < 1:
        return None
    return res


def smoke(data):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    jars = spark_jars()
    classes = build(jars)
    ok = True
    for name in [w["name"] for w in spec["workloads"]] + EXTRA_WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run_once(classes, jars, name, 1, 3, trace, data=data, smoke=True)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {} if res is None else {k: v["unit"] for k, v in res["metrics"].items()}
            good = res is not None and res["correct"] and got == want
            ok &= good
            missing = sorted(set(want) - set(got))
            print(f"{name:18s} trace={trace} {'ok' if good else 'FAIL'}"
                  + (f" missing={missing}" if missing and res else "")
                  + ("" if res is None else f" attempted={res['attempted']} failed={res['failed']}"))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        die("no program sources under src/main/scala: run from the root of a graft checkout")
    if a.smoke:
        smoke(a.data)
    if not a.workload:
        die("--workload is required")
    jars = spark_jars()
    classes = build(jars)
    res = run_once(classes, jars, a.workload, a.seed, a.seconds, a.trace, data=a.data)
    if res is None:
        sys.exit(1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
