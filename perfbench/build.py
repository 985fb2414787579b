"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/classes, using the
Scala compiler that ships among Spark's jars, so a build needs nothing
beyond the Spark distribution the program already runs on. A build is
skipped when the sources hash to the same stamp as the last one.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("build: set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        sys.exit(f"build: no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    return program + sorted((BENCH / "src").glob("*.scala"))


def build():
    """Returns the classpath of the built program and benchmark."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes())
    stamp = h.hexdigest()
    classpath = f"{CLASSES}{os.pathsep}{jars}/*"
    if (CLASSES / ".stamp").exists() and (CLASSES / ".stamp").read_text() == stamp:
        return classpath
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    with open(OUT / "build.log", "w") as log:
        rc = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
             "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"],
            stdout=log, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write((OUT / "build.log").read_text()[-4000:])
        sys.exit(f"build: scalac exited with {rc}")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return classpath


if __name__ == "__main__":
    print(build())
