"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's own (perfbench/scala) with the Scala compiler
that ships in Spark's jars, into .bench_build/classes-<hash of the sources>.
A build whose sources are unchanged is reused.

    python3 perfbench/build.py      # build only
"""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")]
    if not os.path.isdir(dirs[0]):
        sys.exit(f"no graft sources at {dirs[0]}: run from a graft checkout")
    return sorted(os.path.join(d, f) for top in dirs for d, _, fs in os.walk(top)
                  for f in fs if f.endswith(".scala"))


def build(root):
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    os.makedirs(out, exist_ok=True)
    jars = sorted(os.path.join(spark_jars(), j) for j in os.listdir(spark_jars()) if j.endswith(".jar"))
    cp = ":".join(jars)
    print(f"building {len(srcs)} sources into {os.path.relpath(out, root)}", file=sys.stderr)
    rc = subprocess.call(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                          "-nowarn", "-d", out, "-classpath", cp, *srcs],
                         stdout=sys.stderr)
    if rc != 0:
        sys.exit(f"build failed (scalac exit {rc})")
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    print(build(os.path.dirname(HERE)))
