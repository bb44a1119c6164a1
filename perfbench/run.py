#!/usr/bin/env python3
"""Build and run one benchmark workload.

    python3 perfbench/run.py --workload c360_nightly --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine sources
(src/main/scala) together with the benchmark's own sources (perfbench/scala)
with the Scala compiler shipped in Spark's jars directory, into a jar under
.bench_build/; later runs reuse that build while the sources are unchanged.
Nothing touches build.sbt and nothing is fetched. The build also records
a class-data-sharing archive (an untimed run with -XX:ArchiveClassesAtExit
that sets up every workload); every run maps it, so JVM and Spark start-up
do not spend seconds loading classes.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Untraced runs (--trace 0) print the end-to-end metrics, traced runs the
per-layer metrics, and also write .bench_out/trace-<workload>-<seed>.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("c360_nightly", "corpus_prepare", "admit_stream")
RUN_LIMIT_S = 170  # per run, after the (first-run-only) build and archive
BUILD_LIMIT_S = 700
ARCHIVE_LIMIT_S = 120

# Spark on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found (set SPARK_HOME)")
    return jars


def build(jars):
    """Compile engine + benchmark sources once per source hash, into
    <build>/bench.jar (class-data sharing archives only classes from jars)."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        fail("engine sources (src/main/scala) not found next to perfbench/")
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for path in engine + bench:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "bench.jar")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".classes"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(engine + bench) + "\n")
    print(f"[perfbench] compiling {len(engine)} engine + {len(bench)} benchmark sources",
          flush=True)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    try:
        # cwd is the build dir: scalac also searches "." for classes
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_LIMIT_S, cwd=BUILD)
    except subprocess.TimeoutExpired:
        fail("compilation timed out")
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    os.makedirs(out)
    with zipfile.ZipFile(os.path.join(out, "bench.jar.tmp"), "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(tmp)):
            for fn in sorted(files):
                z.write(os.path.join(d, fn), os.path.relpath(os.path.join(d, fn), tmp))
    shutil.rmtree(tmp)
    os.rename(os.path.join(out, "bench.jar.tmp"), os.path.join(out, "bench.jar"))
    print(f"[perfbench] compiled in {time.time() - t0:.1f} s", flush=True)
    return out


def jvm(build_dir, jars, work, archive_flag):
    """The benchmark JVM's command line, up to the main class's arguments."""
    classpath = [os.path.join(build_dir, "bench.jar")] + sorted(
        glob.glob(os.path.join(jars, "*.jar")))
    # a fixed heap keeps peak_rss_mb comparable between runs
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             archive_flag, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join(classpath), "perfbench.Main"])


def new_work(name):
    work = os.path.join(WORK, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def write_metrics(work):
    """The metrics the JVM must print, with their units, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    path = os.path.join(work, "metrics.tsv")
    with open(path, "w") as f:
        for kind, key in (("e2e", "end_to_end"), ("layer", "per_layer")):
            for m in spec[key]:
                f.write(f"{kind}\t{m['name']}\t{m['unit']}\n")
    return path


def archive(build_dir, jars, cores):
    """The class-data-sharing archive of this build, recorded once by an
    untimed run that sets up every workload; None when this JVM cannot
    record one."""
    jsa = os.path.join(build_dir, "classes.jsa")
    none = jsa + ".none"
    if os.path.isfile(jsa):
        return jsa
    if os.path.isfile(none):
        return None
    work = new_work("archive")
    cmd = jvm(build_dir, jars, work, f"-XX:ArchiveClassesAtExit={jsa}.tmp") + [
        "--workload", ",".join(WORKLOADS), "--seed", "0", "--seconds", "1",
        "--trace", "0", "--work", work, "--out", work, "--cores", str(cores),
        "--scale", "1", "--expect-wrong", "0", "--setup-only", "1",
        "--metrics", write_metrics(work)]
    print("[perfbench] recording the class archive", flush=True)
    t0 = time.time()
    try:
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=ARCHIVE_LIMIT_S)
    except subprocess.TimeoutExpired:
        pass  # subprocess.run has killed it and waited
    shutil.rmtree(work, ignore_errors=True)
    if os.path.isfile(jsa + ".tmp") and os.path.getsize(jsa + ".tmp") > 0:
        os.rename(jsa + ".tmp", jsa)
        print(f"[perfbench] archive recorded in {time.time() - t0:.1f} s", flush=True)
        return jsa
    if os.path.exists(jsa + ".tmp"):
        os.remove(jsa + ".tmp")
    open(none, "w").close()
    print("[perfbench] no class archive: runs load classes from the jars", flush=True)
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test runs small)")
    ap.add_argument("--expect-wrong", type=int, choices=(0, 1), default=0,
                    help="check against a deliberately wrong expected output")
    ap.add_argument("--record", help="append the result as a JSON line to this file")
    a = ap.parse_args()

    jars = spark_jars()
    build_dir = build(jars)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    jsa = archive(build_dir, jars, cores)
    start = time.time()
    work = new_work(f"{a.workload}-{a.seed}")
    os.makedirs(OUT, exist_ok=True)
    cmd = jvm(build_dir, jars, work,
              f"-XX:SharedArchiveFile={jsa}" if jsa else "-Xshare:auto") + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", OUT, "--cores", str(cores),
        "--scale", str(a.scale), "--expect-wrong", str(a.expect_wrong),
        "--metrics", write_metrics(work)]
    log_path = os.path.join(OUT, f"jvm-{a.workload}-{a.seed}.log")
    result = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            remaining = max(10, RUN_LIMIT_S - (time.time() - start))
            out, _ = proc.communicate(timeout=remaining)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_LIMIT_S} s (JVM log: {log_path})")
    shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode} (log: {log_path})")
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                "result": result}) + "\n")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
