#!/usr/bin/env python3
"""Build the benchmark: graft's main sources plus the benchmark's own Scala
sources, compiled in one pass by the Scala compiler that ships with the Spark
jars the repository builds against (the `unmanagedBase` in build.sbt).

Output is `.bench_build/perfbench.jar` under the checkout root: a jar, not a
class directory, so the JVM's class-data sharing can archive its classes
(see run.py). A stamp of the source digest skips the compile when nothing
changed.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """SPARK_JARS, else the jar directory named by the repository's build.sbt."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory; set SPARK_JARS")
    return m.group(1)


def files_under(d, suffix=""):
    out = []
    for dp, _, fs in os.walk(d):
        out += [os.path.join(dp, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def build():
    """Compile if the sources changed; returns (program jar, Spark jar dir, source digest)."""
    scala_main = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(scala_main):
        raise RuntimeError(f"no program sources at {os.path.relpath(scala_main, ROOT)}")
    sources = files_under(scala_main, ".scala") + files_under(os.path.join(HERE, "src"), ".scala")
    res = files_under(resources)
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in sources + res + [os.path.abspath(__file__), os.path.join(ROOT, "build.sbt")]:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(OUT, "classes")
    jar = os.path.join(OUT, "perfbench.jar")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(jar):
        return jar, jars, stamp

    # prebuilt benchmark state belongs to the program version that wrote it
    shutil.rmtree(os.path.join(OUT, "state"), ignore_errors=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.path.join(jars, "*")
    subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-d", classes, "-classpath", cp, "-nowarn", "@" + argfile],
        check=True, stdout=sys.stderr)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for p in files_under(classes):
            z.write(p, os.path.relpath(p, classes))
        for p in res:
            z.write(p, os.path.relpath(p, resources))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar, jars, stamp


if __name__ == "__main__":
    print(build()[0])
