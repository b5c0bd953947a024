#!/usr/bin/env python3
"""Run one benchmark workload and print its result JSON as the last line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload queries --seed 1 --seconds 1 --trace 0

Workloads: queries, ingest (see perfbench/README.md).
Optional: --sf F (table scale, default 0.01), --expected FILE (expected
query digests, default perfbench/expected/sf<F>.json).

The first run in a checkout compiles the engine sources (src/main/scala)
with the benchmark sources using sbt; later runs reuse the classes while
the sources are unchanged. The generated input tables depend only on the
scale and are kept in .bench_data/ for later runs. Each run works in a
private directory under .bench_run/ (layouts, warehouse, checkpoints,
Spark scratch) that is removed when the run ends. A record of the run (nproc, JVM, source
version, seed, sentinel times, every metric) is kept in .bench_out/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "bench.stamp")
WORKLOADS = ("queries", "ingest")
RUN_LIMIT_S = 170
# Spark cores (local[CORES], shuffle partitions, and the JVM's own thread
# pools via -XX:ActiveProcessorCount): half of a 4-core machine, so the
# run does not contend with itself for cores it shares with other tenants.
CORES = 2
# C1 only and the serial collector: no C2 or GC worker threads whose CPU
# time depends on when they happen to run. In a run this short C2 does not
# pay back: a pass took about the same wall time with it.
JVM_STEADY = ["-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC"]
BUILD_LIMIT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("[run.py] no Spark install found (set SPARK_HOME)")
    return home


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(home):
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read().strip() == stamp and os.path.isdir(CLASSES):
        return stamp
    log("compiling engine + benchmark sources with sbt")
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        sys.exit(f"[run.py] build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.0f}s")
    return stamp


def commit_id(stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + stamp[:12]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.01")
    ap.add_argument("--expected")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"[run.py] engine sources not found under {ENGINE_SRC}")
    expected = a.expected or os.path.join(HERE, "expected", f"sf{a.sf}.json")
    if a.workload == "queries" and not os.path.exists(expected):
        sys.exit(f"[run.py] no expected digests at {expected}")
    home = spark_home()
    stamp = build(home)

    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    record = os.path.join(out_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json")
    env = dict(os.environ,
               SPARK_GRAFT_LAYOUT_DIR=os.path.join(run_dir, "layouts"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx2g", f"-XX:ActiveProcessorCount={CORES}", *JVM_STEADY,
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--sf", a.sf, "--expected", expected,
            "--run-dir", run_dir, "--nproc", str(os.cpu_count()),
            "--data-dir", os.path.join(ROOT, ".bench_data", f"sf{a.sf}"), "--record", record,
            "--commit", commit_id(stamp)]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_LIMIT_S}s; killed")
        return 4
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        log(f"benchmark JVM exited with {proc.returncode}")
        return proc.returncode or 5
    result = json.loads(lines[-1])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
