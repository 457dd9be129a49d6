"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
harness (`perfbench/src`) into `.bench_build/classes`, with the Scala
compiler and the jars of the Spark distribution the repository builds
against: `$SPARK_HOME/jars`, or else the `unmanagedBase` directory
build.sbt names. The build is skipped when the sources and jars are
unchanged since the last one.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.is_file() else "")
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME to the Spark distribution")
        jars = Path(m.group(1))
    found = sorted(jars.glob("*.jar"))
    if not found:
        raise SystemExit(f"perfbench: no Spark jars under {jars}")
    return found


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not (program / "graft").is_dir():
        raise SystemExit(f"perfbench: program sources not found under {program}")
    return sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def classpath(extra=()):
    return os.pathsep.join([str(p) for p in extra] + [str(j) for j in spark_jars()])


def ensure():
    """Compiles if needed; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in spark_jars():
        h.update(j.name.encode())
    stamp = h.hexdigest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = classpath()
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(CLASSES), "-classpath", cp, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: build failed")
    STAMP.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    print(ensure())
