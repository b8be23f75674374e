#!/usr/bin/env python3
"""Run one perfbench workload against graft built from this checkout.

    python3 perfbench/run.py --workload esm_catalog_session --seed 1 --seconds 20 --trace 0

Builds the library (src/main/scala) and the harness (perfbench/scala) with
the Scala compiler that ships in the Spark jars, caching the classes under
the build directory by a hash of their sources. Then runs the workload in
one JVM (Spark local[n], n = usable cores). All inputs are generated from
--seed; every file the run writes stays under the build directory. The last
line of standard output is the result object.

Extra flags (not used by the recorded runs): --tiny runs a small input,
--plant-fault feeds each oracle one wrong result.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("esm_catalog_session", "corpus_curation", "retrieval_store")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH. Its Scala compiler builds the sources."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        fail("set SPARK_HOME (or put spark-submit on PATH)")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark/Scala jars under " + jars)
    return os.path.join(jars, "*")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_to(out, files, classpath, log, depends=""):
    """scalac `files` into `out` unless a stamp for the same sources (and
    the same `depends` key) exists."""
    stamp = os.path.join(out, ".stamp")
    key = digest(files, classpath + depends)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath] + files
    with open(log, "w") as fh:
        rc = subprocess.call(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("compile failed (log: %s)" % log)
    with open(stamp, "w") as fh:
        fh.write(key)


def build(bd):
    lib_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not lib_src:
        fail("library sources (src/main/scala) not found in " + ROOT)
    bench_src = sources(os.path.join(HERE, "scala"))
    jars = spark_jars()
    lib = os.path.join(bd, "classes", "lib")
    bench = os.path.join(bd, "classes", "bench")
    os.makedirs(os.path.join(bd, "logs"), exist_ok=True)
    compile_to(lib, lib_src, jars, os.path.join(bd, "logs", "compile-lib.log"))
    compile_to(bench, bench_src, lib + os.pathsep + jars,
               os.path.join(bd, "logs", "compile-bench.log"), depends=digest(lib_src))
    return [bench, lib, jars]


def prune_inputs(work, keep=4):
    """Keep the generated inputs of the few most recent seeds only."""
    dirs = sorted(glob.glob(os.path.join(work, "inputs", "*", "*")), key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--plant-fault", action="store_true")
    a = ap.parse_args()

    bd = build_dir()
    classpath = build(bd)
    work = os.path.join(bd, "work")
    # generated inputs are cached per seed, keyed by the harness sources
    inputs = os.path.join(work, "inputs", digest(sources(os.path.join(HERE, "scala"))))
    for d in (os.path.join(work, "tmp"), inputs):
        os.makedirs(d, exist_ok=True)
    prune_inputs(work)
    n = cores()
    # a fixed-size heap: the full collections that sample the live heap would
    # shrink a growable one, and the program then runs with many more
    # collections, which made whole runs slower at random
    cmd =(["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] +
           ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss4m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.system.home=" + os.path.join(work, "tmp"),
            "-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--inputs", inputs, "--cores", str(n)] +
           (["--tiny"] if a.tiny else []) + (["--plant-fault"] if a.plant_fault else []))
    tag = "%s-s%d-t%s%s" % (a.workload, a.seed, a.trace, "-tiny" if a.tiny else "")
    log = os.path.join(bd, "logs", tag + ".log")
    t0 = time.time()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded %d s (log: %s)" % (RUN_TIMEOUT_S, log))
    for run_dir in glob.glob(os.path.join(work, "run-*")) + [os.path.join(work, "checkpoints")]:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(open(log).read()[-6000:])
        fail("run failed with exit code %d (log: %s)" % (proc.returncode, log))
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print("info   wall_s                 %14.4f s  (this command, build excluded)" % (time.time() - t0))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
