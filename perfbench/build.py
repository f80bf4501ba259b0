"""Build file of the benchmark package.

Compiles the repository's `src/main/scala` together with the benchmark's
own `perfbench/src` into `.bench_build/perfbench/classes-<hash>` with the
Scala compiler that ships in the Spark distribution ($SPARK_HOME, else the
one whose spark-submit is on PATH; no sbt, no network).
A build is reused while the hash of every source file is unchanged.

    python3 perfbench/build.py      # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4.1 distribution")
    return home


def spark_classpath():
    return os.path.join(spark_home(), "jars", "*")


def sources():
    found = []
    for top in SOURCE_DIRS:
        for d, _, names in os.walk(top):
            found += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(found)


def build():
    srcs = sources()
    if not any(s.startswith(SOURCE_DIRS[0]) for s in srcs):
        raise SystemExit("perfbench: no sources under src/main/scala; run from a full checkout")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(WORK, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "javatmp"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-Djava.io.tmpdir=" + os.path.join(tmp, "javatmp"),
           "-cp", spark_classpath(), "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, timeout=800)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(os.path.join(tmp, "javatmp"))
    os.remove(argfile)
    os.rename(tmp, out)
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
    sys.exit(0)
