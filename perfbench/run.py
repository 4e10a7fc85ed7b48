#!/usr/bin/env python3
"""Product-job benchmark for graft.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload validate_batch --seed 1 --seconds 9 --trace 0

Builds graft's main sources and the benchmark (perfbench/src) with the Scala
compiler that ships in $SPARK_HOME/jars, caches the classes under .bench_build/,
then runs one workload in one JVM at local[nproc/2]. Generated inputs, outputs
and Spark scratch space live under .bench_work/. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}; --trace 0 reports
the end-to-end metrics and --trace 1 the per-layer ones (trace spans are
written to .bench_work/trace/).
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ("validate_batch", "curate")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JAVA_TIMEOUT_S = 170
KEEP_INPUT_SEEDS = 12


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, or the jars of a Spark whose bin/ is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark jars with a Scala compiler: set SPARK_HOME")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(main):
        fail("src/main/scala not found: run from the root of a graft checkout")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(bench, "**", "*.scala"), recursive=True))
    if not files:
        fail("no Scala sources found")
    return files


def build(root, jars):
    """Compiles graft + the benchmark once per source digest; returns the classes dir."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    out = os.path.join(base, h.hexdigest()[:16])
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "_OK")):
            return out
        for old in glob.glob(os.path.join(base, "*")):
            if os.path.isdir(old):
                shutil.rmtree(old)
        os.makedirs(out)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
               "-nowarn", "-d", out, "-classpath", os.path.join(jars, "*"), "@" + argfile]
        print("perfbench: compiling graft and the benchmark", file=sys.stderr)
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if r.returncode != 0:
            fail("compile failed")
        open(os.path.join(out, "_OK"), "w").close()
        return out


def prune_inputs(work, workload, seed):
    """Keeps the generated inputs of the few most recent seeds of a workload."""
    dirs = [d for d in glob.glob(os.path.join(work, "inputs", workload + "-*"))
            if not d.endswith(f"-{seed}")]
    dirs.sort(key=os.path.getmtime)
    for d in dirs[:max(0, len(dirs) - (KEEP_INPUT_SEEDS - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    jars = spark_jars()
    classes = build(root, jars)
    work = os.path.join(root, ".bench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    prune_inputs(work, args.workload, args.seed)
    result = os.path.join(work, f"result-{os.getpid()}.json")
    # half the cores run Spark tasks; the rest is left to the driver thread,
    # the JIT compiler and GC, so the JVM never wants more cores than it has
    cores = max(1, len(os.sched_getaffinity(0)) // 2)

    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(root, "perfbench", "log4j2.properties"),
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(root, "src", "main", "resources"),
                                      os.path.join(jars, "*")]),
              "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
              "--cores", str(cores), "--result", result])
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark scratch inside the checkout
    proc = subprocess.Popen(cmd, cwd=root, env=env)
    try:
        rc = proc.wait(timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark JVM exceeded {JAVA_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(result):
        fail(f"benchmark JVM exited with {rc}")
    with open(result) as fh:
        res = json.load(fh)
    os.remove(result)
    spec = os.path.join(root, "BENCHMARK.json")
    if os.path.exists(spec):
        with open(spec) as fh:
            want = {m["name"]: m["unit"] for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            fail(f"metrics {sorted(set(got.items()) ^ set(want.items()))} differ from BENCHMARK.json")
    sys.stdout.flush()
    print(json.dumps(res))


if __name__ == "__main__":
    main()
