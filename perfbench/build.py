#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the program under test (src/main/scala plus its resources) and
the harness (perfbench/harness) with the Scala compiler that ships in
Spark's jars, into the build directory (CARGO_TARGET_DIR if set, else
.bench_build). Each part is rebuilt only when its sources change.

    python3 perfbench/build.py          # prints the run classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
HARNESS = Path(__file__).resolve().parent / "harness"


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = (ROOT / "build.sbt").read_text()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
    return Path(m.group(1))


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def _sources(src):
    return sorted(p for p in src.rglob("*") if p.is_file())


def _stamp(files, classpath):
    h = hashlib.sha256(" ".join(map(str, classpath)).encode())
    for p in files:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _compile(name, src, resources, classpath, jars):
    files = _sources(src) + (_sources(resources) if resources and resources.is_dir() else [])
    if not any(p.suffix == ".scala" for p in files):
        raise SystemExit(f"build: no Scala sources under {src}")
    out = build_dir() / name
    stamp_file = out / "stamp"
    stamp = _stamp(files, [(c / "../stamp").resolve().read_text() for c in classpath])
    classes = out / "classes"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = os.pathsep.join([str(jars / "*")] + [str(c) for c in classpath])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes), "-classpath", cp]
    cmd += [str(p) for p in files if p.suffix == ".scala"]
    print(f"build: compiling {name}", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    if resources and resources.is_dir():
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    stamp_file.write_text(stamp)
    return classes


def build():
    """Returns the classpath entries: harness, program, Spark's jars."""
    jars = spark_jars()
    if not jars.is_dir():
        raise SystemExit(f"build: Spark jars not found at {jars}")
    program = _compile("program", ROOT / "src/main/scala", ROOT / "src/main/resources", [], jars)
    harness = _compile("harness", HARNESS, None, [program], jars)
    return [str(harness), str(program), str(jars / "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
