"""Build file of the benchmark package.

Compiles graft's library sources (`src/main/scala`) together with the
benchmark harness (`graftbench/harness`) into `<build>/classes` with the
Scala compiler that ships in the Spark distribution, so the build needs
nothing beyond a JDK and `$SPARK_HOME/jars` (default `/opt/spark/jars`).
A stamp of every source file's content skips the compile when nothing
changed. `<build>` is `$CARGO_TARGET_DIR` if set, else `.bench_build`,
relative to the repository root.

Usage: python3 graftbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "harness/*.scala")))
    return files


def classpath():
    return os.path.join(build_dir(), "classes") + ":" + os.path.join(JARS, "*")


def build():
    """Compile if any source changed; return the runtime classpath."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        sys.exit("graftbench: no library sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(build_dir(), "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = ":".join(os.path.join(JARS, j) for j in sorted(os.listdir(JARS))
                        if j.startswith(("scala-compiler", "scala-library", "scala-reflect")))
    libs = ":".join(sorted(glob.glob(os.path.join(JARS, "*.jar"))))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", libs, "@" + args_file],
                       capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:] + r.stderr[-5000:])
        sys.exit("graftbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(build())
