#!/usr/bin/env python3
"""Regenerate perfbench/expected/sf<F>.json, the expected query digests.

Usage (from the root of a checkout):

    python3 perfbench/make_expected.py --sf 0.01 [--work DIR]

Steps: generate the benchmark tables at scale F; dump every olap_q and
curate_x query result with graft.Verify; compare the dump against the
DuckDB oracle with tools/oracle_check.py (needs the duckdb Python
package); only if every query passes, digest the dump into the expected
file. Run it whenever a query's definition or the data generator changes.
"""
import argparse
import os
import shutil
import subprocess
import sys

import run as bench


def java(home, main, args, env=None, cwd=None):
    """Runs a main class on the benchmark classpath; returns its stdout."""
    cmd = [os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ
           else "java", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in bench.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", bench.CLASSES + os.pathsep + os.path.join(home, "jars", "*"), main] + args
    return subprocess.run(cmd, check=True, env=env, cwd=cwd, stdout=subprocess.PIPE,
                          text=True).stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.01")
    ap.add_argument("--work", default=os.path.join(bench.ROOT, ".bench_run", "expected"))
    a = ap.parse_args()
    home = bench.spark_home()
    bench.build(home)
    data, dump = os.path.join(a.work, "data"), os.path.join(a.work, "dump")
    shutil.rmtree(a.work, ignore_errors=True)
    os.makedirs(data)
    java(home, "perfbench.Main", ["--gen-data", data, "--sf", a.sf, "--run-dir", a.work], cwd=a.work)
    env = dict(os.environ, SPARK_GRAFT_VERIFY_ONLY=java(home, "perfbench.Main", ["--print-queries"]).strip(),
               SPARK_GRAFT_CPUS=str(os.cpu_count()),
               SPARK_GRAFT_LAYOUT_DIR=os.path.join(a.work, "layouts"))
    java(home, "graft.Verify", [data, dump], env=env, cwd=a.work)
    check = subprocess.run([sys.executable, os.path.join(bench.ROOT, "tools", "oracle_check.py"),
                            data, dump, "--par", "2"])
    if check.returncode != 0:
        sys.exit("oracle check failed; expected digests NOT written")
    out = os.path.join(bench.HERE, "expected", f"sf{a.sf}.json")
    java(home, "perfbench.Main", ["--digest-dump", dump, "--out", out, "--sf", a.sf,
                                  "--run-dir", a.work], cwd=a.work)
    shutil.rmtree(a.work, ignore_errors=True)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
