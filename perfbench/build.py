"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark driver (`perfbench/src`) into one class directory.

The compiler is the `scala-compiler` jar that ships with the Spark
distribution the engine builds against (`$SPARK_HOME/jars`, else the
`unmanagedBase` directory named in the root `build.sbt`), so no build
tool or network access is needed. The output is keyed by a hash of every
source file: an unchanged tree is not rebuilt.

    python3 perfbench/build.py [out_dir]     # default: $CARGO_TARGET_DIR or .bench_build
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
SOURCE_ROOTS = ("src/main/scala", "src/main/java", "perfbench/src")


class BuildError(Exception):
    pass


def spark_jar_dir(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def spark_jars(root):
    d = spark_jar_dir(root)
    jars = sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError(f"no scala-compiler jar in {d}")
    return jars


def sources(root):
    files = []
    for rel in SOURCE_ROOTS:
        top = os.path.join(root, rel)
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".java"))]
    files.sort()
    if not any(f.startswith(os.path.join(root, "src", "main")) for f in files):
        raise BuildError(f"no engine sources under {root}/src/main")
    return files


def source_hash(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(root, out_dir):
    """Returns (classes_dir, runtime classpath, source hash)."""
    jars = spark_jars(root)
    files = sources(root)
    digest = source_hash(root, files)
    base = os.path.join(out_dir, "perfbench")
    classes = os.path.join(base, "classes")
    stamp = os.path.join(base, "classes.sha256")
    if os.path.isdir(classes) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return classes, [classes] + jars, digest
    os.makedirs(base, exist_ok=True)
    staging = os.path.join(base, "classes.partial")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", staging, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise BuildError(f"scalac exited with {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return classes, [classes] + jars, digest


def main():
    root = os.path.dirname(BENCH_DIR)
    out = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    try:
        classes, _, digest = ensure_built(root, os.path.join(root, out))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    print(f"{classes} {digest}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
