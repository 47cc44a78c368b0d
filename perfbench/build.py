"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/scala`)
with the Scala compiler that ships among the Spark jars `build.sbt`
compiles against (its `unmanagedBase`).

    python3 perfbench/build.py        # from the checkout root

Classes go to `$CARGO_TARGET_DIR/classes` (default `.bench_build/classes`)
and are packed into `perfbench.jar` beside them. Then one short JVM run
records a class-data archive (`classes.jsa`) of what a Spark session loads,
which shortens every later JVM start; a run falls back to plain class
loading when the archive is missing or does not match. A stamp over every
source file's content skips all of this when nothing changed. Exits
non-zero when the program's sources are not there.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

# JVM options of every benchmark JVM: Spark's module opens on JDK 17, and a
# deep stack for the program's iterative plans.
JVM_OPTS = ["-Xmx3g", "-Xss8m"] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars(root):
    """The jar directory `build.sbt` declares as `unmanagedBase`."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    prog = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    own = sorted(glob.glob(f"{root}/perfbench/scala/*.scala"))
    return prog, own


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def archive(root):
    """The class-data archive, or None when build() could not record it."""
    f = os.path.join(build_dir(root), "classes.jsa")
    return f if os.path.exists(f) else None


def record_archive(out, cp):
    """Records the classes a first Spark session loads (`perfbench.Main
    --workload none`). The archive needs jars on the class path, hence the
    jar. Failing here only costs start-up time, so it does not fail the
    build."""
    work = os.path.join(out, "archive-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    r = subprocess.run(["java", f"-XX:ArchiveClassesAtExit={out}/classes.jsa",
                        f"-Djava.io.tmpdir={work}"] + JVM_OPTS
                       + ["-cp", cp, "perfbench.Main", "--workload", "none", "--work", work,
                          "--cores", "1"],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(f"perfbench: class-data archive not recorded ({r.returncode})\n")


def build(root="."):
    """Compiles if needed; returns the classpath to run the benchmark with."""
    root = os.path.abspath(root)
    prog, own = sources(root)
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    jars = spark_jars(root)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    h = hashlib.sha256()
    for f in prog + own:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, "stamp")
    jar = os.path.join(out, "perfbench.jar")
    cp = f"{jar}:{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    for f in (stamp, jar, os.path.join(out, "classes.jsa")):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(prog + own) + "\n")
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
                        "scala.tools.nsc.Main", "-usejavacp", "-classpath", classes, "-nowarn",
                        "-d", classes, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    record_archive(out, cp)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build("."))
