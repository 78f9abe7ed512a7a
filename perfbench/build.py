"""Build file of the benchmark: compiles graft (src/main/scala) and the
harness (perfbench/scala) with the Scala compiler that ships in Spark's
jars, packs the classes with graft's resources into
.bench_build/perfbench/perfbench.jar, and saves a class-data archive of a
short run's loaded classes next to it, which takes about five seconds off
each later JVM start. A build is reused while no source file changes.

    python3 perfbench/build.py     # prints the jar's path
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

OUT = os.path.join(".bench_build", "perfbench")
ARCHIVE = os.path.join(OUT, "classes.jsa")
SCALA_VERSION = "2.13.17"
HEAP = "3g"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not found:
        raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return found.group(1)


def sources():
    graft = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob("perfbench/scala/*.scala"))
    return graft, harness


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(jar):
    return os.pathsep.join([jar, os.path.join(spark_jars(), "*")])


def java_command(jar, args, tmp, cds):
    """The harness JVM: a fixed heap, temp files under `tmp`, and `cds` the
    class-data archive flag."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", cds,
             "-Xlog:cds=off", "-Xlog:cds+dynamic=off", f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties")]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
            + ["-cp", classpath(jar), "perfbench.Harness"] + args)


def pack(jar, roots):
    """Jars the files under `roots` (a jar, not a directory, so the JVM
    can keep a class-data archive of the classpath)."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for root in roots:
            for d, _, files in sorted(os.walk(root)):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, root))


def build():
    """Returns (jar, source digest); raises SystemExit on failure."""
    graft, harness = sources()
    if not graft or not harness:
        raise SystemExit("perfbench: run from the repository root (src/main/scala and "
                         "perfbench/scala are missing)")
    digest = source_digest(graft + harness)
    classes = os.path.join(OUT, "classes")
    jar = os.path.join(OUT, "perfbench.jar")
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return jar, digest
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                               for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*")]
                          + graft + harness) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "@" + argfile]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({done.returncode})")
    pack(jar, [classes, "src/main/resources"])
    # an es_build run without timed iterations loads Spark and the sink
    work = os.path.abspath(os.path.join(OUT, "archive-run"))
    os.makedirs(os.path.join(work, "tmp"))
    done = subprocess.run(
        java_command(jar, ["es_build", "0", "0", "0", work, os.path.join(work, "record.json")],
                     os.path.join(work, "tmp"), "-XX:ArchiveClassesAtExit=" + ARCHIVE),
        stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if done.returncode != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(stamp, "w") as f:
        f.write(digest)
    return jar, digest


if __name__ == "__main__":
    print(build()[0])
