#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library from source (`src/main/scala`) together with the
benchmark (`perfbench/src`) with the Scala compiler that ships in Spark's
jar directory, into `.bench_build/perfbench/classes`. A stamp of the source
contents makes a rebuild a no-op when nothing changed.

    python3 perfbench/build.py          # from the repository root
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home or "") / "jars"
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources() -> list:
    lib = ROOT / "src" / "main" / "scala"
    if not (lib / "graft").is_dir():
        raise BuildError(f"library sources not found under {lib}")
    files = sorted(lib.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files


def build() -> pathlib.Path:
    """Compile if needed; returns the classes directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    stamp_file = OUT / "classes.stamp"
    if CLASSES.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return CLASSES
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={OUT}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
           "-d", str(tmp), f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp_file.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
