#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` at the checkout root) together with
the benchmark's own sources (`perfbench/src`) with the Scala compiler that
ships in the Spark distribution, into `perfbench/.build/classes`. A content
stamp over every source file skips the compile when nothing changed.

Usage: python3 perfbench/build.py        (prints the classes directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / ".build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark jar directory: `$SPARK_HOME/jars`, else the directory the
    engine's own build.sbt names as its `unmanagedBase`."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(Path(m.group(1)))
    for c in cands:
        if c.is_dir():
            return c
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to compile")
    return files


def stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    resources = sorted(ENGINE_RES.rglob("*")) if ENGINE_RES.is_dir() else []
    for f in files + resources:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def classpath(jars: Path) -> str:
    return os.pathsep.join(sorted(str(j) for j in jars.glob("*.jar")))


def build(quiet: bool = False) -> Path:
    """Compile if the sources changed; returns the classes directory."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    compiler = [next(iter(sorted(jars.glob(f"scala-{m}-2.13*.jar"))), None)
                for m in ("compiler", "library", "reflect")]
    if None in compiler:
        raise BuildError(f"no Scala 2.13 compiler jars under {jars}")
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / f"classes.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    args_file = OUT / f"sources{os.getpid()}.txt"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", classpath(jars), f"@{args_file}"]
    if not quiet:
        print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True)
    finally:
        args_file.unlink(missing_ok=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    if ENGINE_RES.is_dir():
        shutil.copytree(ENGINE_RES, tmp, dirs_exist_ok=True)
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
