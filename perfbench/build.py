"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark runner (perfbench/src) with
the Scala compiler that ships in Spark's jar directory. The repository's
own sbt build is not used or changed.

    python3 perfbench/build.py        # prints the classes directory

Output goes to .bench_build/classes; a stamp of the sources' hash skips
the compile when nothing changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(WORK, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def jar_dir():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    project's build.sbt takes its jars from (`unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("no Spark jar directory: set SPARK_HOME")
    return m.group(1)


def spark_jars():
    d = jar_dir()
    jars = sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise SystemExit(f"no scala-compiler jar in {d}")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {d}")
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return (classes dir, source hash)."""
    files = sources()
    digest = source_hash(files)
    stamp = os.path.join(WORK, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return CLASSES, digest
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    argfile = os.path.join(WORK, "scalac.args")
    with open(argfile, "w") as f:
        f.write("-deprecation\n-nowarn\n-d\n" + CLASSES + "\n-classpath\n" + ":".join(jars) + "\n")
        f.writelines(s + "\n" for s in files)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"compile failed (exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    return CLASSES, digest


if __name__ == "__main__":
    print(build()[0])
