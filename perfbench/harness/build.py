#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the engine (`src/main/scala`) and the harness (`harness/src`)
into one class directory with the Scala compiler that ships in Spark's
`jars/` directory, the same jars the benchmark then runs on. A stamp of
every source's content makes a rebuild a no-op while nothing changed.

Usage: python3 perfbench/harness/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HARNESS = Path(__file__).resolve().parent


def spark_jars(root):
    """`$SPARK_HOME/jars`, else the `unmanagedBase` that `build.sbt` compiles
    the engine against."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', (root / "build.sbt").read_text())
        jars = Path(m.group(1) if m else "jars")
    if not glob.glob(str(jars / "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler under {jars}; set SPARK_HOME")
    return jars


def sources(root):
    engine = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit(f"no engine sources under {root / 'src/main/scala'}")
    return engine + sorted((HARNESS / "src").glob("*.scala"))


def build(root, out):
    """Return the class directory for the sources under `root`, compiling
    into `out/classes` unless its stamp already matches."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes())
    h.update("\0".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = out / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(p) for p in srcs],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("harness build failed")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build(Path.cwd(), Path.cwd() / ".bench_build"))
