"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own code (perfbench/scala) with the Scala compiler that
ships with Spark, against the Spark jars named by the sbt build's
``unmanagedBase``, into perfbench/.work/classes-<hash>.

The hash covers every compiled source and this file, so an unchanged
tree is built once and reused. Run it alone with ``python3 perfbench/build.py``.
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
WORK = os.path.join(HERE, ".work")


def sources():
    found = []
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def _sbt(pattern):
    """A setting of the sbt build, so both builds use the same toolchain."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(pattern, f.read())
    if not m:
        raise SystemExit(f"perfbench: build.sbt does not match {pattern}")
    return m.group(1)


def spark_jars():
    return _sbt(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')


def classpath():
    return os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Returns the classes directory, compiling if the sources changed."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs + [os.path.abspath(__file__)]:
        with open(s, "rb") as f:
            h.update(os.path.relpath(s, ROOT).encode() + b"\0" + f.read())
    out = os.path.join(WORK, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(WORK, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    scala = _sbt(r'scalaVersion\s*:=\s*"([^"]+)"')
    compiler = [os.path.join(spark_jars(), f"scala-{m}-{scala}.jar")
                for m in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath(),
           "-d", out] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log, cwd=ROOT)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
