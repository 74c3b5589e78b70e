"""Build step of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`perfbench/harness`) into `<build dir>/classes` with the Scala
compiler that ships among the Spark jars, and prepares the input tables
under `<build dir>/data`. Both are skipped when their inputs are unchanged.

The Spark jar directory is the one the project build names
(`unmanagedBase` in `build.sbt`), or `$SPARK_HOME/jars`.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402

# Spark's launcher passes these module openings to every JVM it starts
# (org.apache.spark.launcher.JavaModuleOptions); a JVM started without
# spark-submit needs them too.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars(root):
    """The jar directory of the project build, or of $SPARK_HOME."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("error: no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sources(root):
    scala = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"), recursive=True))
    res_dir = os.path.join(root, "src/main/resources")
    res = sorted(p for p in glob.glob(os.path.join(res_dir, "**/*"), recursive=True)
                 if os.path.isfile(p))
    return scala + harness, res, res_dir


def source_digest(root):
    """Digest of everything the build reads: the run facts name the build
    by it, since a checkout need not be a git repository."""
    srcs, res, _ = sources(root)
    return _digest(srcs + res, root)


def compile_classes(root, log=sys.stderr):
    """Compile when the sources changed; returns the run classpath."""
    jars = spark_jars(root)
    out = os.path.join(build_dir(root), "classes")
    stamp = out + ".stamp"
    srcs, res, res_dir = sources(root)
    if not srcs or not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("error: src/main/scala not found; run from the repository root")
    digest = _digest(srcs + res, root)
    cp = f"{out}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    subprocess.run([java(), "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
                    "scala.tools.nsc.Main", "-nowarn", "-d", out,
                    "-classpath", os.path.join(jars, "*"), "@" + argfile],
                   check=True, stdout=log, stderr=log)
    for p in res:
        dst = os.path.join(out, os.path.relpath(p, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def _publish(build, dst):
    """Build a data directory in a staging path and rename it into place."""
    if os.path.isdir(dst):
        return dst
    tmp = dst + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.rename(tmp, dst)
    return dst


def data(root, sf=0.1, replicas=1):
    """Input tables at `sf`, replicated `replicas` times; cached per
    generator version."""
    tag = _digest([os.path.join(HERE, "datagen.py")], HERE)[:12]
    base = _publish(lambda d: datagen.write(d, sf),
                    os.path.join(build_dir(root), "data", f"sf{sf}-{tag}"))
    if replicas == 1:
        return base
    return _publish(lambda d: datagen.replicate(base, d, replicas),
                    os.path.join(build_dir(root), "data", f"sf{sf}x{replicas}-{tag}"))


if __name__ == "__main__":
    r = os.getcwd()
    print(compile_classes(r))
