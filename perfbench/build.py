"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala of the checkout) together with
the benchmark harness (perfbench/src) into one class directory with the Scala
compiler that ships in Spark's jar directory, so the build needs no network
and no sbt. A stamp of the source contents skips the compile when nothing
changed.

    python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine, bench


def classpath(build_dir):
    return os.pathsep.join([os.path.join(build_dir, "classes"),
                            os.path.join(spark_jars(), "*")])


def build(build_dir):
    """Compile into <build_dir>/classes unless the stamp matches."""
    engine, bench = sources()
    if not engine:
        raise SystemExit(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    h = hashlib.sha256()
    for p in engine + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    out = os.path.join(build_dir, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + engine + bench
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"compile failed (exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build")), "perfbench")
    os.makedirs(d, exist_ok=True)
    build(d)
