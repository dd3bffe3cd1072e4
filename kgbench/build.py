#!/usr/bin/env python3
"""Build file of the KG-construction benchmark.

Compiles the engine (`src/main/scala`) together with the harness
(`kgbench/src`) with the Scala compiler that ships in Spark's jars
directory, into `.bench_build/kgbench/kgbench.jar` at the repository root.
Nothing is downloaded and nothing outside the checkout is written.

    python3 kgbench/build.py          # build if any source changed

A stamp over every source file's path and bytes makes a rebuild a no-op
until a source changes. The jar is written under a temporary name and
renamed into place, so an interrupted build never leaves half a jar. A
rebuild also drops the class-data archive (CDS) that run.py records from
the previous jar.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "kgbench"
JAR = OUT / "kgbench.jar"
STAMP = OUT / "kgbench.jar.stamp"
CDS_ARCHIVE = OUT / "kgbench.jsa"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "kgbench" / "src"]


def spark_jars() -> Path:
    """Spark's jars directory: $SPARK_HOME, else found from spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("kgbench: set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    return Path(home) / "jars"


def sources() -> list:
    return sorted(p for d in SOURCE_DIRS if d.is_dir() for p in d.rglob("*.scala"))


def stamp_of(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Returns the jar, compiling first when sources changed."""
    engine = ROOT / "src" / "main" / "scala" / "graft" / "KgPipeline.scala"
    if not engine.is_file():
        raise SystemExit(f"kgbench: engine sources not found ({engine.relative_to(ROOT)})")
    jars = spark_jars()
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"kgbench: no Scala compiler in {jars}")
    files = sources()
    stamp = stamp_of(files)
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == stamp:
        return JAR
    OUT.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=OUT) as tmp:
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
               "-usejavacp", "-classpath", tmp, "-nowarn", "-d", tmp] + [str(f) for f in files]
        print(f"kgbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
        res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if res.returncode != 0:
            raise SystemExit(f"kgbench: compile failed (exit {res.returncode})")
        part = OUT / "kgbench.jar.tmp"
        with zipfile.ZipFile(part, "w", zipfile.ZIP_STORED) as z:
            for f in sorted(Path(tmp).rglob("*.class")):
                z.write(f, f.relative_to(tmp).as_posix())
    CDS_ARCHIVE.unlink(missing_ok=True)
    part.rename(JAR)
    STAMP.write_text(stamp)
    return JAR


if __name__ == "__main__":
    print(build())
