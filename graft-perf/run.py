#!/usr/bin/env python3
"""Runs one graft-perf workload and prints its result as the last line.

    python3 graft-perf/run.py --workload point_serve --seed 1 --seconds 14 --trace 0
    python3 graft-perf/run.py --selftest

Run it from the root of a checkout. The first run compiles the engine and
the runner (see build.py); every run then starts one JVM with a fixed
heap, which builds one local Spark session, generates the workload's
inputs from the seed, sets up, measures for `--seconds` and checks every
result. All files go under the build directory and the run's own files
are removed when it ends.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

import build

WORKLOADS = ("point_serve", "ingest_mixed")
HEAP = "2g"
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def java_cmd(classpath, jars, work, main, args):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    # the archive was recorded with the benchmark's classpath alone
    cds = ([f"-XX:SharedArchiveFile={build.cds_archive()}"]
           if len(classpath) == 1 and os.path.exists(build.cds_archive()) else [])
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + cds + [
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}"]
            + opens
            + ["-cp", os.pathsep.join(classpath + [os.path.join(jars, "*")]), main] + args)


def run_jvm(cmd, timeout):
    """Runs the JVM in its own process group and waits for it; returns
    (exit code, stdout lines). A timeout or a SIGTERM kills the group."""
    # Spark's scratch space is set in the session (under the run's work
    # directory); an inherited SPARK_LOCAL_DIRS would move it elsewhere
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            env=env, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(1)
    signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print(f"graft-perf: run exceeded {timeout} s and was stopped", file=sys.stderr)
        return 1, []
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    if a.selftest:
        classpath, jars = build.build_tests()
        main_class, name = "graftperf.SelfTest", "selftest"
    else:
        classpath, jars = build.build(java_cmd)
        main_class, name = "graftperf.Main", f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.join(build.build_dir(), "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = [] if a.selftest else [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work]
    try:
        code, lines = run_jvm(java_cmd(classpath, jars, work, main_class, args), RUN_TIMEOUT_S)
        if a.trace and os.path.exists(os.path.join(work, "spans.json")):
            traces = os.path.join(build.build_dir(), "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    sys.exit(code)


if __name__ == "__main__":
    main()
