#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark's own Scala sources (perfbench/src) into
`.bench_build/classes`, with the Scala compiler shipped among the Spark
jars. A stamp of the sources' hash skips the build when nothing changed.

Usage: python3 perfbench/build.py      (prints the classes directory)
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
OUT = ROOT / ".bench_build"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        sys.exit(f"perfbench: engine sources missing under {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build():
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    compiler = sorted(jars.glob("scala-compiler-*.jar"))
    if not compiler:
        sys.exit("perfbench: no scala-compiler jar among the Spark jars")
    scala_cp = os.pathsep.join(str(j) for j in sorted(jars.glob("scala-*.jar")))
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    log = OUT / "build.log"
    with open(log, "w") as lf:
        rc = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", scala_cp, "scala.tools.nsc.Main",
             "-usejavacp:false", "-nowarn", "-classpath", str(jars / "*"), "-d", str(tmp),
             f"@{argfile}"],
            stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        sys.exit(f"perfbench: build failed (log: {log})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
