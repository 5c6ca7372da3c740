"""Compiles graft's sources plus the benchmark JVM into one class dir.

Usage: python3 graftbench/build.py [build_dir]   (from the repo root)

Uses the Scala compiler that ships with Spark's jars, so no sbt start-up
or dependency resolution is involved. The output is keyed by a hash of
every compiled source: an unchanged tree is not rebuilt.
"""
import glob
import hashlib
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"graftbench: no graft sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    return main + bench


def build(root, build_dir):
    """Returns the runtime classpath, compiling first if sources changed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    jars = spark_jars()
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    os.makedirs(classes, exist_ok=True)
    for old in glob.glob(os.path.join(classes, "**", "*.class"), recursive=True):
        os.remove(old)
    compiler = ":".join(os.path.join(jars, f"scala-{m}-2.13.17.jar")
                        for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                    "-nowarn", "-classpath", f"{jars}/*", "-d", classes, f"@{argfile}"],
                   check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
