"""Build file of the pipeline benchmark.

Compiles the engine sources (``src/main/scala``) together with the
benchmark's own sources (``perfbench/src``) with the Scala compiler that
ships in the Spark distribution, into a content-addressed class directory
under the build root (``$CARGO_TARGET_DIR``, default ``.bench_build``).
A second call with unchanged sources reuses the classes.

    python3 perfbench/build.py            # build, print the class dir
"""

import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    """The Spark distribution's jar directory: Spark and the Scala
    compiler/library the engine build links against. Found through
    ``$SPARK_HOME``, else through a ``spark-submit`` on ``PATH`` that
    sits in a full distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars):
            return sorted(os.path.join(jars, j) for j in os.listdir(jars)
                          if j.endswith(".jar"))
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources(root):
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        top = os.path.join(root, base)
        if not os.path.isdir(top):
            raise SystemExit(f"perfbench: missing source tree {top} — run "
                             "from the root of a full checkout")
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build_root(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def build(root="."):
    """Compile if needed; return (class dir, jar list)."""
    root = os.path.abspath(root)
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    out_root = os.path.join(build_root(root), "perfbench")
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes, jars
    os.makedirs(out_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-tmp-", dir=out_root)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", tmp, "-classpath", cp] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed (exit {r.returncode})")
    # older builds are dead weight once the sources moved on
    for old in os.listdir(out_root):
        if old.startswith("classes-") and os.path.join(out_root, old) != tmp:
            shutil.rmtree(os.path.join(out_root, old), ignore_errors=True)
    os.rename(tmp, classes)
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
