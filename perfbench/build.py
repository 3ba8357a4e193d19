#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources into one class directory, without sbt and
without touching the repository's build.sbt.

    python3 perfbench/build.py          # prints the class directory

The Scala compiler is the scala-compiler jar that ships in the Spark jar
directory named by build.sbt (`unmanagedBase`), or `$SPARK_HOME/jars` when
SPARK_HOME is set. Output goes to `$CARGO_TARGET_DIR/perfbench` (default
`.bench_build/perfbench` at the repository root). A build is skipped when
its stamp (a digest of every source file) is unchanged.
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


class BuildError(Exception):
    pass


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt at the repository root: run from a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("cannot find the Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("no src/main/scala at the repository root: run from a graft checkout")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(jar_dir(), "*")])


def build():
    """Compile if needed; returns (class dir, source digest)."""
    files = sources()
    digest = stamp(files)
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read().strip() == digest:
        return classes, digest
    jars = jar_dir()
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError(f"scala compiler jars not found in {jars}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError("scalac failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(digest + "\n")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
