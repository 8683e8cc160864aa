"""Build file of the benchmark: compiles the program (src/main/scala)
and the harness (perfbench/harness) with the Scala compiler that ships
in the Spark distribution, into `.bench_build/`. A build is reused
while the hash of every source file it compiled is unchanged.

Run alone with `python3 perfbench/build.py`; run.py calls it first.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the directory
    build.sbt takes its unmanaged jars from."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build: no Spark jars (set SPARK_HOME)")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/harness/*.scala")))
    if not main:
        raise SystemExit("build: no program sources under src/main/scala")
    return main, bench


def classpath():
    return os.pathsep.join([os.path.join(BUILD, "classes"),
                            os.path.join(ROOT, "src/main/resources"),
                            os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath."""
    main, bench = sources()
    h = hashlib.sha256()
    for p in main + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "classes.sha256")
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath()
    out = os.path.join(BUILD, "classes")
    if os.path.exists(out):
        subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    jars = os.path.join(spark_jars(), "*")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + bench))
    print(f"build: compiling {len(main)} program and {len(bench)} harness files", file=log)
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", jars,
                        "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", jars,
                        "@" + argfile], stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("build: scalac failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath()


if __name__ == "__main__":
    print(build())
