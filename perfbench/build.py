#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's own (perfbench/src) into one class
directory, with the Scala compiler that ships in Spark's jars directory
($SPARK_HOME/jars, else the `unmanagedBase` that build.sbt names). No sbt,
no network.

The output lands in .bench_build/perfbench/classes-<hash> under the
checkout root, keyed by a hash of every source file, so an unchanged tree
is compiled once. Usage: python3 perfbench/build.py  (prints the class dir)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars() -> Path:
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise SystemExit("build: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return Path(m.group(1))


def sources() -> list:
    found = []
    for d in (ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"):
        if d.is_dir():
            found += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return found


def build() -> Path:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir() or not any(program.rglob("*.scala")):
        raise SystemExit(f"build: no graft sources under {program}")
    jars = spark_jars()
    if not any(jars.glob("spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars} (set SPARK_HOME)")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".complete").exists():
        return classes
    tmp = classes.with_name(classes.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    argfile.unlink()
    (tmp / ".complete").touch()
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    for old in OUT.glob("classes-*"):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
