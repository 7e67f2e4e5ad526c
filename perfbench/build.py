"""Build file of the benchmark.

Compiles the program's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into one jar under .bench_build/,
with the Scala compiler that ships among the Spark jars. Then records a
class-data-sharing archive from one warm-up pass of every workload, which
cuts each later run's JVM start-up by several seconds. The build is
skipped when a stamp over every source file and the jar list is
unchanged.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
JAR = BUILD / "perfbench.jar"
ARCHIVE = BUILD / "classes.jsa"

# Spark on JDK 17 outside spark-submit needs these opens (the repo's
# build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory the repo's own build compiles against
    (`unmanagedBase` in build.sbt), else $SPARK_HOME/jars."""
    candidates = []
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for c in candidates:
        if any(c.glob("spark-core_*.jar")) and any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    own = sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return main + own


def jdk_tool(name):
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / name) if home else name


def jvm(jars, work, *flags):
    """The benchmark JVM's command line up to the main class arguments;
    `work` holds every file the JVM and Spark write."""
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = [jdk_tool("java"), "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-Xlog:disable",
           "-Xlog:all=error:stderr"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + list(flags) + [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
        "-cp", f"{JAR}{os.pathsep}{jars / '*'}",
        "perfbench.Main", "--work", str(work),
    ]


def jvm_env(work):
    # Spark's scratch space stays inside the checkout too
    return dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark"))


def build():
    """Returns the Spark jar directory; the jar and archive are at JAR
    and ARCHIVE (the archive may be missing, which only costs time)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(Path(__file__).read_bytes())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    stamp = h.hexdigest()
    stamp_file = BUILD / "stamp"
    if JAR.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return jars
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = BUILD / "classes"
    classes.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = str(jars / "*")
    r = subprocess.run([jdk_tool("java"), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(classes), "-cp", cp, "@" + str(argfile)],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    r = subprocess.run([jdk_tool("jar"), "cf", str(JAR), "-C", str(classes), "."],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"jar exited with {r.returncode}")
    shutil.rmtree(classes)
    work = BUILD / "train"
    (work / "tmp").mkdir(parents=True)
    r = subprocess.run(jvm(jars, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}") + ["--train", "1"],
                       stdout=sys.stderr, stderr=sys.stderr, env=jvm_env(work))
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        ARCHIVE.unlink(missing_ok=True)
        print(f"class-data archive not recorded (exit {r.returncode}); runs start slower",
              file=sys.stderr)
    stamp_file.write_text(stamp)
    return jars


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
