"""Builds the engine and the benchmark harness from source with the Scala
compiler that ships with the Spark jars the sbt build uses (`unmanagedBase`
in build.sbt); no sbt, nothing written outside the build directory.

Compiles `src/main/scala` and `perfbench/src` into `<build_dir>/classes`.
A stamp of the sources' hash skips the compile when nothing changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars() -> str:
    sbt = (ROOT / "build.sbt").read_text()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        raise ValueError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources() -> list:
    dirs = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
    missing = [str(d) for d in dirs if not d.is_dir()]
    if missing:
        raise FileNotFoundError(f"no sources to build: {', '.join(missing)}")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def classpath(build_dir: Path) -> str:
    return f"{build_dir / 'classes'}{os.pathsep}{spark_jars()}/*"


def ensure(build_dir: Path) -> str:
    """Compiles if the sources changed since the last build; returns the
    runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = build_dir / "classes.stamp"
    out = build_dir / "classes"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and out.is_dir():
        return classpath(build_dir)
    jars = spark_jars()
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    (build_dir / "tmp").mkdir(exist_ok=True)
    args = build_dir / "scalac.args"
    args.write_text("\n".join(str(p) for p in srcs))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={build_dir / 'tmp'}", "-cp", f"{jars}/*",
         "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
         "-classpath", f"{jars}/*", f"@{args}"],
        capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise RuntimeError("scalac failed")
    stamp.write_text(h.hexdigest())
    return classpath(build_dir)
