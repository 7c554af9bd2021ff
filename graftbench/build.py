"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own sources into one class directory, using the Scala 2.13
compiler that ships with Spark (no sbt, no dependency resolution).

    python3 graftbench/build.py        # prints the class directory

The compile is skipped when a stamp of every source file's path and bytes
matches the last build. Output lives under `.bench_build/graftbench/`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise RuntimeError("no graft sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(BENCH, "src", "*.scala")))


def compiler_cp(jars):
    parts = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, name + "-2.13.*.jar")))
        if not found:
            raise RuntimeError("missing %s jar in %s" % (name, jars))
        parts.append(found[-1])
    return ":".join(parts)


def build():
    """Compiles when needed; returns the class directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(compiler_cp(jars).encode())
    digest = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + OUT,
           "-cp", compiler_cp(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError("scalac failed with code %d" % r.returncode)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return classes


if __name__ == "__main__":
    print(build())
