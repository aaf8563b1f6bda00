#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's main sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
with the Scala compiler that ships in Spark's jar directory.

The output goes to `perfbench/.work/classes` and is reused while no
source file changes (a content hash is kept beside it).

Usage: python3 perfbench/build.py   (prints the classes directory)
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
WORK = BENCH / ".work"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    repo's own build.sbt names as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"perfbench: graft sources missing under {main}")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(str(jars).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    out = WORK / "classes"
    stamp = out / ".sources.sha256"
    if stamp.exists() and stamp.read_text() == digest:
        return out
    tmp = WORK / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = str(jars / "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-nowarn", "-d", str(tmp)] + [str(f) for f in files]
    log = WORK / "build.log"
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        sys.exit(f"perfbench: compile failed (exit {rc}), see {log}")
    (tmp / ".sources.sha256").write_text(digest)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build())
