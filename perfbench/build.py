#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) together
with the benchmark's own Scala sources into one class directory.

The Scala compiler and the Spark/Scala runtime jars come from the Spark
install: $SPARK_HOME, else the one whose `spark-submit` is on PATH. Output goes to
$CARGO_TARGET_DIR/classes (default .bench_build/classes under the checkout
root); a content stamp skips the compile when no source changed.

    python3 perfbench/build.py          # build (or reuse) and print the dir
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    os.path.realpath(shutil.which("spark-submit") or "/")))
JARS = os.path.join(SPARK_HOME, "jars")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def _files(top, exts):
    out = []
    for dp, dns, fns in os.walk(top):
        dns.sort()
        for fn in sorted(fns):
            if fn.endswith(exts):
                out.append(os.path.join(dp, fn))
    return out


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"build: no program sources at {main}")
    return _files(main, (".scala", ".java")) + _files(os.path.join(HERE, "src"), (".scala",))


def resources():
    top = os.path.join(ROOT, "src", "main", "resources")
    return _files(top, ("",)) if os.path.isdir(top) else []


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(JARS))).encode())
    return h.hexdigest()


def build():
    """Return the class directory, compiling first when sources changed."""
    if not os.path.isdir(JARS):
        raise SystemExit(f"build: Spark jars not found at {JARS}")
    srcs = sources()
    res = resources()
    key = stamp(srcs + res)
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isdir(out) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == key:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    top = os.path.join(ROOT, "src", "main", "resources")
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, top))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(key + "\n")
    print(f"[perfbench] compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return out


if __name__ == "__main__":
    print(build())
