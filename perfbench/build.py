#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the graft library sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) into `<build dir>/classes`
with the Scala compiler that ships among the Spark jars. No sbt and no
dependency resolution: the classpath is the Spark jar directory alone.

The build directory is `$CARGO_TARGET_DIR` when set, else `.bench_build`
at the root of the checkout. A stamp over every source file's content
skips the compile when nothing changed.

Usage: python3 perfbench/build.py        (prints the classpath)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


class BuildError(Exception):
    pass


def build_dir() -> str:
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars() -> str:
    """The Spark jar directory: $SPARK_JARS, $SPARK_HOME/jars, or the
    `unmanagedBase` the repository's sbt build compiles against."""
    cands = [os.environ.get("SPARK_JARS", "")]
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if c and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jar directory found (set SPARK_JARS or SPARK_HOME)")


def sources() -> list:
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                           recursive=True))
    if not lib:
        raise BuildError("graft library sources (src/main/scala) not found")
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src/**/*.scala"),
                             recursive=True))
    if not bench:
        raise BuildError("benchmark sources (perfbench/src) not found")
    return lib + bench


def build() -> str:
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    out = build_dir()
    classes = os.path.join(out, "classes")
    h = hashlib.sha256(jars.encode())
    for s in srcs + [os.path.abspath(__file__)]:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, "stamp")
    jar = os.path.join(out, "graftbench.jar")
    # a jar, not the class directory: class-data sharing refuses
    # non-empty directories on the class path
    cp = jar + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", classes, "@" + argfile]
    print(f"[build] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    train_cds(cp, out)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


def cds_archive() -> str:
    return os.path.join(build_dir(), "graftbench.jsa")


def train_cds(cp: str, out: str) -> None:
    """Record the classes a session start loads into a class-data-sharing
    archive, which cuts the JVM start-up of every run. Best effort: a
    run without the archive is only slower to start."""
    work = os.path.join(out, "cds-train")
    subprocess.run(["rm", "-rf", work, cds_archive()], check=True)
    os.makedirs(work)
    cmd = jvm_command(cp, work) + [
        f"-XX:ArchiveClassesAtExit={cds_archive()}", "-Xlog:cds=off",
        "-Xlog:cds+dynamic=off", "graftbench.Main",
        "--cds-train", "--work", work]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=subprocess.DEVNULL,
                       cwd=work, timeout=300)
    if r.returncode != 0:
        print("[build] class-data-sharing training failed; continuing without",
              file=sys.stderr)
    subprocess.run(["rm", "-rf", work], check=True)


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(cp: str, work: str) -> list:
    """The benchmark JVM's command up to the main class: heap, module
    opens Spark needs on JDK 17, and every scratch path inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}",
        "-cp", cp]


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
