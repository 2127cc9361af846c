"""Build file of the benchmark.

Compiles the program (`src/main/scala`) together with the harness
(`perfbench/src`) using the Scala compiler that ships in Spark's `jars`
directory, into `.bench_build/classes` at the repository root. A build is
skipped when a stamp of every source file matches the last build.

    python3 perfbench/build.py      # prints the classes directory

Spark is found through `SPARK_HOME`, else through `spark-submit` on PATH.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources() -> list:
    missing = [str(d.relative_to(ROOT)) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise BuildError(f"source directories missing: {', '.join(missing)}")
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(" ".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def build() -> Path:
    jars = spark_jars()
    files = sources()
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    want = stamp(files, jars)
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler_cp = os.pathsep.join(str(p) for p in sorted(jars.glob("scala-*.jar")))
    classpath = os.pathsep.join(str(p) for p in sorted(jars.glob("*.jar")))
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(
        ["-d", str(tmp), "-classpath", classpath, "-encoding", "UTF-8", "-nowarn"]
        + [str(f) for f in files]) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main", f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
