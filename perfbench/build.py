"""Build file of the benchmark: compiles the program from source.

The program (`src/main/scala` at the repository root) and the benchmark's
own Scala code (`perfbench/scala`) are compiled together with the Scala
compiler shipped in the Spark distribution, against the same Spark jars
`build.sbt` uses, into `perfbench/.build/current/perfbench.jar`. Next to it
go `oracle_sql.json` (every query's DuckDB twin, dumped by the fresh build)
and `classes.jsa`, a JVM class-data archive recorded by a training run
(graft.perfbench.Train): benchmark JVMs map the Spark and program classes
from it instead of loading them one by one, which halves JVM and session
start on a small host. The program is the same with or without it.
A stamp over all source bytes skips the build when nothing changed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "scala")]


def spark_jars():
    """The jars the program builds against: `unmanagedBase` in the root
    build.sbt, else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("build: no Spark jars (build.sbt unmanagedBase or $SPARK_HOME)")


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def classpath(extra=()):
    return os.pathsep.join(list(extra) + [os.path.join(spark_jars(), "*")])


def heap_gb():
    """A quarter of physical memory, 1-4 GB: the JVM must fit the host."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return max(1, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration):
        return 2


def spark_java(jar, tmpdir, main, args, flags=()):
    """The command that starts a Spark-running JVM: the flags `build.sbt`
    gives `run` (module opens, code cache, UTC), the pinned heap, scratch
    files under `tmpdir`, no perf-data file outside the checkout."""
    heap = heap_gb()
    return (["java", "-XX:-UsePerfData", f"-Xmx{heap}g", f"-Xms{heap}g",
             "-XX:ReservedCodeCacheSize=1g", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmpdir}", *flags]
            + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", classpath([jar]), main, *args])


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {d} is missing")
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(out)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _read(path):
    with open(path) as f:
        return f.read()


def _outputs(d, st):
    return (os.path.join(d, "perfbench.jar"), os.path.join(d, "oracle_sql.json"),
            os.path.join(d, "classes.jsa"), st)


def build(log=sys.stderr):
    """Returns (jar, oracle_sql.json, class-data archive, source stamp)."""
    srcs = sources()
    st = stamp(srcs)
    current = os.path.join(BUILD, "current")
    done = os.path.join(current, "stamp")
    if os.path.exists(done) and _read(done) == st:
        return _outputs(current, st)
    if not glob.glob(os.path.join(spark_jars(), "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {spark_jars()}")
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"build: compiling {len(srcs)} Scala files", file=log, flush=True)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath(),
                    "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                    "-classpath", classpath(), "@" + argfile],
                   check=True, stdout=log, stderr=log)
    jar, oracle_sql, archive, _ = _outputs(tmp, st)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for root, dirs, files in os.walk(classes):
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(root, name)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xmx512m", "-cp", classpath([jar]),
                    "graft.perfbench.OracleDump", oracle_sql],
                   check=True, stdout=log, stderr=log)
    shutil.rmtree(current, ignore_errors=True)
    os.replace(tmp, current)
    # the archive records the class path, so it is made at the final one
    jar, oracle_sql, archive, _ = _outputs(current, st)
    train = os.path.join(current, "train")
    os.makedirs(train)
    subprocess.run(spark_java(jar, train, "graft.perfbench.Train", [train],
                              [f"-XX:ArchiveClassesAtExit={archive}"]),
                   check=True, stdout=log, stderr=log)
    shutil.rmtree(train)
    with open(done, "w") as f:
        f.write(st)
    return _outputs(current, st)


if __name__ == "__main__":
    print(build()[0])
