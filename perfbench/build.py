#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) into `.bench_build/classes`, using the
Scala compiler that ships with the Spark distribution the engine builds
against (the same jar directory as `build.sbt`'s `unmanagedBase`). No sbt
and no dependency resolution: the build works offline in a bare checkout.
The build is skipped when a stamp of the sources' digest matches.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SPARK_JARS = Path(os.environ.get("SPARK_JARS", "/opt/spark/jars"))
ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def sources(root: Path = ROOT) -> list:
    engine = root / "src" / "main" / "scala"
    bench = root / "perfbench" / "src"
    if not engine.is_dir() or not bench.is_dir():
        raise BuildError(f"missing sources: need {engine} and {bench}")
    return sorted(engine.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def classpath() -> str:
    return f"{SPARK_JARS}/*"


def build(root: Path = ROOT) -> Path:
    """Compile if the sources changed; returns the classes directory."""
    srcs = sources(root)
    if not any(SPARK_JARS.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {SPARK_JARS}")
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    classes = OUT / "classes"
    stamp = OUT / "classes.stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = OUT / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", classpath(), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    stamp.write_text(digest)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
