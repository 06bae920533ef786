#!/usr/bin/env python3
"""Build the engine plus the benchmark harness from source, then run one
benchmark workload (or the harness's own tests) in a fresh JVM.

Run from the repository root:

    python3 perfbench/run.py --workload wiki_pagerank --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The engine sources (src/main/scala) and the harness sources
(perfbench/src) are compiled together with the Scala compiler that ships
in Spark's jars directory, into .bench_build/bench.jar. The build is keyed
by a digest of every source file, so an unchanged tree is not rebuilt.
The first run after a build also dumps a class-data-sharing archive that
later runs map, which cuts several seconds of class loading from every
JVM start (it changes start-up only, not the timed work). All inputs,
outputs and scratch files stay under .bench_build/.

The last line of stdout is the harness's JSON result; a failed build or
run exits non-zero without printing one.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "bench.jar")
CDS = os.path.join(BUILD, "bench.jsa")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME/jars, else the jars/
    beside the bin/ of a spark-submit on the PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.abspath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            jars = os.path.join(home, "jars")
            return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
    fail("no Spark installation found (set SPARK_HOME)")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            fail("missing source directory " + os.path.relpath(d, ROOT))
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    files = sources()
    h = hashlib.sha256()
    for f in files + [os.path.join(b, n) for b, _, ns in os.walk(RESOURCES) for n in ns]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    for f in (stamp, JAR, CDS):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print("perfbench: compiling %d source files" % len(files), file=sys.stderr)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", CLASSES, "-classpath", os.pathsep.join(jars), "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail("build failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    if subprocess.run(["jar", "cf", JAR, "-C", CLASSES, "."]).returncode != 0:
        fail("packaging failed")
    shutil.rmtree(CLASSES)
    with open(stamp, "w") as fh:
        fh.write(digest)


def main(argv):
    if not argv:
        fail("usage: run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> | --selftest")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    build(jars)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    main_class, args = ("perfbench.SelfTest", argv[1:]) if argv[0] == "--selftest" \
        else ("perfbench.Main", argv)
    # only a workload run loads the Spark classes worth archiving
    dump = CDS + ".tmp"
    cds = ["-XX:SharedArchiveFile=" + CDS] if os.path.exists(CDS) \
        else [] if main_class == "perfbench.SelfTest" else ["-XX:ArchiveClassesAtExit=" + dump]
    cmd = (["java", "-XX:-UsePerfData"] + cds + ["-Xshare:auto", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] +
           ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JDK17_OPENS] +
           ["-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
            "-cp", os.pathsep.join([JAR] + jars), main_class] + args)
    # the JVM inherits stdout, so its last line is this run's result
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait()
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    if os.path.exists(dump):
        if code == 0:
            os.replace(dump, CDS)
        else:
            os.remove(dump)
    sys.exit(code)


if __name__ == "__main__":
    main(sys.argv[1:])
