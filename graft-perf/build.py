"""Build file of the graft-perf benchmark.

Compiles the engine (`src/main/scala` of the checkout) together with the
benchmark runner (`graft-perf/src`) with the Scala compiler that ships in
Spark's jar directory, so a build needs no network and no sbt. Classes go
to `<build dir>/classes` and into `<build dir>/graft-perf.jar`; a stamp of
every source's hash skips the compile when nothing changed. The build
then records a class-data-sharing archive (`app.jsa`) from one short run,
which every later run maps instead of loading and verifying Spark's
classes again: it saves several seconds of JVM start per run.
`build_tests` adds the self-tests.

    python3 graft-perf/build.py            # build only
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
TEST_SRC = os.path.join(HERE, "test")
# a first run must end within 900 s: compile + archive + one 170 s run
COMPILE_TIMEOUT_S = 500
CDS_TIMEOUT_S = 200


def build_dir():
    """`CARGO_TARGET_DIR` when set (relative to the checkout), else `.bench_build`."""
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME") or "/opt/spark", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"graft-perf: no Spark jars with a Scala compiler under {jars}")
    return jars


def sources(*dirs):
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def _stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def _compile(name, files, classpath, jars):
    """Compiles `files` into `<build dir>/<name>` unless its stamp matches."""
    out = os.path.join(build_dir(), name)
    # classpath entries are earlier outputs: their stamps are inputs too
    stamp = _stamp(files + [c + ".stamp" for c in classpath], jars)
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.pathsep.join(classpath + [os.path.join(jars, "*")])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"graft-perf: compiling {len(files)} sources into {out}", file=sys.stderr)
    if subprocess.run(cmd, timeout=COMPILE_TIMEOUT_S, stdout=sys.stderr).returncode != 0:
        raise SystemExit("graft-perf: compile failed")
    os.remove(argfile)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def _jar(classes):
    """Packs `classes` into a jar: class-data sharing archives jars only."""
    jar = os.path.join(build_dir(), "graft-perf.jar")
    stamp = classes + ".stamp"
    if os.path.exists(jar) and os.path.getmtime(jar) >= os.path.getmtime(stamp):
        return jar
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(tmp, jar)
    return jar


def cds_archive():
    return os.path.join(build_dir(), "app.jsa")


def _record_cds(jar, jars, java_cmd):
    """Records the class list of one short `ingest_mixed` run. A failure
    only means runs start without the archive."""
    archive = cds_archive()
    if os.path.exists(archive) and os.path.getmtime(archive) >= os.path.getmtime(jar):
        return
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(build_dir(), "runs", "cds")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd([jar], jars, work, "graftperf.Main",
                   ["--workload", "ingest_mixed", "--seed", "0", "--seconds", "1",
                    "--trace", "0", "--work", work])
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={archive}")
    print("graft-perf: recording the class-data sharing archive", file=sys.stderr)
    try:
        subprocess.run(cmd, timeout=CDS_TIMEOUT_S, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(work, ignore_errors=True)


def build(java_cmd=None):
    """Classpath entries (besides Spark's jars) for running the benchmark.
    With `java_cmd` (see run.py) it also records the CDS archive."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"graft-perf: no engine sources at {ENGINE_SRC}")
    jars = spark_jars()
    jar = _jar(_compile("classes", sources(ENGINE_SRC, BENCH_SRC), [], jars))
    if java_cmd is not None:
        _record_cds(jar, jars, java_cmd)
    return [jar], jars


def build_tests():
    classpath, jars = build()
    classes = os.path.join(build_dir(), "classes")
    return classpath + [_compile("test-classes", sources(TEST_SRC), [classes], jars)], jars


if __name__ == "__main__":
    build()
