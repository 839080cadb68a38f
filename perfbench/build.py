#!/usr/bin/env python3
"""Build file of the perfbench package: compiles graft's main sources and
the benchmark's own Scala sources (perfbench/src) into one jar with the
Scala compiler that ships in Spark's jars dir (no sbt start-up, no
network). Skips the compile when no source changed since the last build.

    python3 perfbench/build.py [--out .bench_build]

Spark's jars dir is $SPARK_HOME/jars (default /opt/spark/jars), the same
dir graft's build.sbt compiles against.
"""
import argparse
import glob
import hashlib
import os
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALA = "2.13.17"


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        found += glob.glob(os.path.join(ROOT, base, "**", "*.scala"),
                           recursive=True)
    return sorted(found)


def build(out):
    """Compile if needed; return (jar, source stamp)."""
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("perfbench: graft sources (src/main/scala) not found")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "graftbench.jar")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar, stamp
    if os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = ":".join(os.path.join(jars, f"scala-{p}-{SCALA}.jar")
                        for p in ("compiler", "library", "reflect"))
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(jars, "*"), "-d", classes,
           "@" + args_file]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    # a jar, not a class dir: the JVM's class-data sharing archive (see
    # run.py) only covers jar classpath entries
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar, stamp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build"))
    print(build(os.path.abspath(ap.parse_args().out))[0])


if __name__ == "__main__":
    main()
