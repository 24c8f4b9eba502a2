#!/usr/bin/env python3
"""Benchmark of record for the graft engine.

    python3 perfbench/run.py --workload {migrate,serve,curate,all} \
        --seed N --seconds S --trace {0,1}

Builds the engine (src/main/scala) together with the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in Spark's jar
directory. The classes are cached under .bench_build/, keyed by a hash of
every source file. Each workload then runs in its own JVM on local[nproc];
`all` runs the three in turn. The JIT is capped at C1 so that a short run
measures steady code rather than C2's compile schedule.

The JVM prints one summary line with the workload's named figures and, as
the last line of standard output, the result object
{"correct", "attempted", "failed", "metrics"}. A failed correctness gate
exits 1; a build or run failure exits 2 without printing a result.
"""
import argparse
import glob
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
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
RUN_TIMEOUT_S = 170
WORKLOADS = ["migrate", "curate", "serve"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no jars directory under {home}")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    files = []
    for root in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(jars):
    """Compile engine + benchmark once per distinct source tree."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.*.jar"))
                for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        fail("scala-compiler/library/reflect jars not found in Spark's jars")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp",
         os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
         "-nowarn", "-usejavacp", "-classpath", os.path.join(jars, "*"),
         "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: compiled {len(files)} files in {time.time() - t0:.0f}s",
          file=sys.stderr)
    return classes


def run_one(workload, a, jars, classes):
    """Run one workload in its own JVM; return (exit code, stdout lines)."""
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", "-XX:-UsePerfData", "-Xms1g", "-Xmx3g", "-XX:+UseG1GC",
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"] +
           [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.stream.error.file={work}/derby.log",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graft.perfbench.Main",
            "--workload", workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    trace_dir = os.path.join(work, "trace")
    if a.trace and os.path.isdir(trace_dir):
        dest = os.path.join(BUILD, "traces")
        os.makedirs(dest, exist_ok=True)
        for f in os.listdir(trace_dir):
            shutil.move(os.path.join(trace_dir, f), os.path.join(dest, f))
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"{workload} run failed (exit {proc.returncode})")
    return proc.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    classes = build(jars)
    code = 0
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        rc, lines = run_one(w, a, jars, classes)
        print("\n".join(lines), flush=True)
        code = max(code, rc)
    sys.exit(code)


if __name__ == "__main__":
    main()
