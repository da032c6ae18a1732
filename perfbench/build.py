"""Build file of the benchmark package.

Compiles graft's main sources (``src/main/scala``) together with the
benchmark's JVM driver (``perfbench/scala``) with the Scala compiler that
ships in Spark's ``jars`` directory (the jars ``build.sbt`` compiles
against), straight into a class directory -- no sbt,
no change to the repository's own build.  A stamp of every source's hash
makes a rebuild a no-op when nothing changed.

    python3 perfbench/build.py            # prints the class directory
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The jars graft compiles against: ``build.sbt``'s ``unmanagedBase``,
    else ``$SPARK_HOME/jars``."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = spark_jars()
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java_opens():
    """The --add-opens flags Spark 4 needs on JDK 17 outside spark-submit."""
    out = []
    for p in JDK17_OPENS:
        out += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    return out


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "scala", "*.scala")))
    if not main:
        raise SystemExit("build: no graft sources under src/main/scala")
    return main + bench


def build():
    """Compile if any source changed; return the class directory."""
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit("build: no Spark jars at %r" % SPARK_JARS)
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    if os.path.isfile(stamp_file):
        os.remove(stamp_file)  # a failed build must not leave a valid stamp
    if os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    cp = os.path.join(SPARK_JARS, "*")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", classes, "-classpath", cp, "@" + argfile],
        check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def source_sha():
    """Content hash of the compiled sources (the checkout has no .git)."""
    h = hashlib.sha256()
    for s in sources():
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


if __name__ == "__main__":
    print(build())
