"""Build file of the benchmark: compiles the program's Scala sources and
the harness under `perfbench/src` into `.bench_build/classes` with the
Scala compiler that ships in the Spark distribution's jars.

    python3 perfbench/build.py      # prints the class directory

A stamp of every source file's content skips the compile when nothing
changed.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "stamp"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
HARNESS_SRC = Path(__file__).resolve().parent / "src"


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, or next to the
    `spark-submit` found on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("no Spark distribution: set SPARK_HOME")
        home = Path(submit).parent.parent
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise SystemExit(f"no Spark jars at {jars}: set SPARK_HOME")
    return jars


def classpath():
    """Run-time classpath: the compiled classes, the program's resources
    and the Spark jars."""
    return os.pathsep.join([str(CLASSES), str(RESOURCES), str(spark_jars() / "*")])


def _sources():
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))


def _stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"no program sources at {PROGRAM_SRC}")
    srcs = _sources()
    stamp = _stamp(srcs)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return CLASSES
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = BUILD / "sources.txt"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", jars, f"@{args}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
