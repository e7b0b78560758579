"""Build file of the benchmark package: compiles graft's main sources
and the harness under perfbench/harness into jars in .bench_build/,
with the Scala compiler that ships in Spark's jar directory (no sbt,
nothing written outside the checkout), then dumps a class-data-sharing
archive of the classes a session set-up loads, which every benchmark
JVM maps instead of loading those classes one by one. A stamp of the
source hashes skips the build when nothing changed.

Run from the checkout root: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "harness")


def spark_jars():
    """The Spark jar directory the project builds against: build.sbt's
    `unmanagedBase`, or $SPARK_HOME/jars."""
    jars = os.path.join(os.environ["SPARK_HOME"], "jars") if "SPARK_HOME" in os.environ else None
    if jars is None and os.path.exists(os.path.join(ROOT, "build.sbt")):
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else None
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"no Spark jars found (build.sbt unmanagedBase or SPARK_HOME): {jars}")
    return os.path.join(jars, "*")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _run(cmd, what):
    r = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build failed: {what}")


def _compile(files, jar, classpath):
    tmp = jar + ".classes"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _run(["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
          "-nowarn", "-classpath", classpath, "-d", tmp] + files, jar)
    _run(["jar", "cf", jar + ".tmp", "-C", tmp, "."], jar)
    shutil.rmtree(tmp)
    os.replace(jar + ".tmp", jar)


def build(setup_cmd=None):
    """Returns (classpath, JVM options for the archive); compiles only
    what changed. `setup_cmd(classpath, extra_jvm_opts)` runs one
    session set-up, used to dump the class-data-sharing archive."""
    graft = sources(GRAFT_SRC)
    harness = sources(HARNESS_SRC)
    if not graft:
        sys.exit(f"no graft sources under {GRAFT_SRC}")
    os.makedirs(BUILD, exist_ok=True)
    graft_jar = os.path.join(BUILD, "graft.jar")
    harness_jar = os.path.join(BUILD, "harness.jar")
    archive = os.path.join(BUILD, "setup.jsa")
    stamp_file = os.path.join(BUILD, "stamp")
    want = _stamp(graft) + _stamp(harness)
    have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    cp = os.pathsep.join([harness_jar, graft_jar, spark_jars()])
    if have[:64] != want[:64] or not os.path.exists(graft_jar):
        _compile(graft, graft_jar, spark_jars())
        have = ""
    if have != want or not os.path.exists(harness_jar):
        _compile(harness, harness_jar, os.pathsep.join([graft_jar, spark_jars()]))
        have = ""
    with open(stamp_file, "w") as f:
        f.write(want)
    # The archive is only valid for the jars it was dumped from.
    archive_stamp = archive + ".stamp"
    fresh = os.path.exists(archive_stamp) and open(archive_stamp).read() == want
    if not fresh and setup_cmd:
        for f in (archive, archive_stamp):
            if os.path.exists(f):
                os.remove(f)
        setup_cmd(cp, [f"-XX:ArchiveClassesAtExit={archive}"])
        with open(archive_stamp, "w") as f:
            f.write(want)
        fresh = True
    return cp, ([f"-XX:SharedArchiveFile={archive}"] if fresh and os.path.exists(archive) else [])


if __name__ == "__main__":
    print(build()[0])
