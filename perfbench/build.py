"""Build file of the benchmark package.

Compiles the library sources (`src/main/scala`) together with the
benchmark program (`perfbench/src`) into `perfbench/.build/classes-<key>`,
using the Scala compiler that ships among the Spark jars the root
`build.sbt` declares as `unmanagedBase`. No sbt and no dependency
resolution: the jar directory is the whole classpath. The key hashes every
source file and this file, so a change rebuilds and an unchanged tree is
reused.

    python3 perfbench/build.py     # prints the classes directory
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
BUILD_DIR = os.path.join(HERE, ".build")


class BuildError(Exception):
    pass


def jar_dir(root=ROOT):
    """The Spark jar directory named by the root build's `unmanagedBase`,
    else `$SPARK_HOME/jars`."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: root build.sbt has no usable "
                     "unmanagedBase and SPARK_HOME is unset")


def sources(root=ROOT):
    lib = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise BuildError(f"library sources not found under {lib}")
    files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not any(f.startswith(lib) for f in files):
        raise BuildError(f"no Scala sources under {lib}")
    return files


def build(root=ROOT, log=sys.stderr):
    jars = jar_dir(root)
    compiler = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if not compiler:
        raise BuildError(f"no scala-compiler jar in {jars}")
    files = sources(root)
    h = hashlib.sha256(os.path.basename(compiler[0]).encode())
    for f in [os.path.abspath(__file__)] + files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as src:
            h.update(hashlib.sha256(src.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD_DIR, exist_ok=True)
    for stale in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = out + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cp = os.path.join(jars, "*")
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    try:
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile],
            stdout=log, stderr=log, timeout=800)
    finally:
        os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
