"""Build file of the benchmark: compiles graft (``src/main/scala``) and
the benchmark runner (``perfbench/scala``) with the Scala compiler that
ships in Spark's jar directory, into ``.bench_build/classes``. A build
is reused while the sources it was made from are unchanged.

The jar directory is ``$SPARK_JARS`` if set, else the ``unmanagedBase``
that graft's ``build.sbt`` names.

    python3 perfbench/build.py        # from the checkout root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def spark_jars(root):
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(f"{root}/build.sbt").read())
    if not m:
        print("perfbench: build.sbt names no unmanagedBase; set SPARK_JARS",
              file=sys.stderr)
        sys.exit(2)
    return m.group(1)


def sources(root):
    found = []
    for base in ("src/main/scala", "perfbench/scala"):
        found += glob.glob(f"{root}/{base}/**/*.scala", recursive=True)
    return sorted(found)


def ensure(root):
    """(classes dir, Spark jar dir), building the classes when missing
    or stale. Exits non-zero when the checkout has no graft sources."""
    if not os.path.isfile(f"{root}/src/main/scala/graft/SparkEntry.scala"):
        print("perfbench: no graft sources under src/main/scala; run from "
              "the root of a graft checkout", file=sys.stderr)
        sys.exit(2)
    jars = spark_jars(root)
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s[len(root):].encode())
        digest.update(open(s, "rb").read())
    stamp = digest.hexdigest()
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(f"{jars}/scala-{m}-{SCALA}.jar"
                               for m in ("compiler", "library", "reflect"))
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", f"{jars}/*",
         f"@{args_file}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        print("perfbench: build failed", file=sys.stderr)
        sys.exit(2)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


if __name__ == "__main__":
    print(ensure(os.getcwd())[0])
