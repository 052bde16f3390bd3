#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala of the
checkout, plus its resources) together with the harness (perfbench/src)
into one class directory, with the Scala compiler and the Spark jars the engine's own
build uses. A stamp over every source file skips the compile when nothing
changed.

Usage: python3 perfbench/build.py   (prints the class directory)
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


class BuildError(Exception):
    pass


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> Path:
    """The jar directory the engine compiles against: the build's
    `unmanagedBase`, else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    cands = []
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(Path(m.group(1)))
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for c in cands:
        if list(c.glob("scala-compiler-*.jar")) and list(c.glob("spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources missing: {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not any(f.is_relative_to(engine) for f in files):
        raise BuildError("no engine sources to build")
    return files


def resources() -> list:
    res = ROOT / "src" / "main" / "resources"
    return sorted(f for f in res.rglob("*") if f.is_file()) if res.is_dir() else []


def classpath(classes: Path) -> str:
    return f"{classes}{os.pathsep}{spark_jars()}/*"


def build() -> Path:
    srcs = sources()
    res = resources()
    jars = spark_jars()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    h = hashlib.sha256(str(jars).encode())
    for f in srcs + res:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", f"{jars}/*", f"@{argfile}"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-20000:])
        raise BuildError(f"scalac failed with code {p.returncode}")
    res_root = ROOT / "src" / "main" / "resources"
    for f in res:
        dst = classes / f.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dst)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(2)
