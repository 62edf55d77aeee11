"""Build file of the benchmark's JVM side.

Compiles graft's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that
ships in $SPARK_HOME/jars, into .bench_build/perfbench/classes at the
root of the checkout. A stamp of every source's content makes a rebuild
happen only when a source changed.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must point at a Spark 4.1 install (its jars/ holds "
                         "Spark and the Scala 2.13 compiler)")
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _files(top, suffix):
    out = []
    for d, _, fs in os.walk(top):
        out.extend(os.path.join(d, f) for f in fs if f.endswith(suffix))
    return sorted(out)


def sources():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise BuildError(f"graft sources not found under {os.path.relpath(GRAFT_SRC, ROOT)}; "
                         "run from a full checkout of the repository")
    return _files(GRAFT_SRC, ".scala") + _files(BENCH_SRC, ".scala")


def stamp(files):
    h = hashlib.sha256()
    for f in files + (_files(GRAFT_RES, "") if os.path.isdir(GRAFT_RES) else []):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Return (classpath, source stamp), compiling first if needed."""
    files = sources()
    jars = spark_jars()
    want = stamp(files)
    stamp_file = os.path.join(CLASSES, ".stamp")
    cp = f"{CLASSES}{os.pathsep}{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp, want
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(files)} Scala sources", file=log, flush=True)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run([java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", f"{jars}/*",
                        f"@{argfile}"],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("scalac failed")
    if os.path.isdir(GRAFT_RES):
        shutil.copytree(GRAFT_RES, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return cp, want


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
