#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark driver (perfbench/src) into one class directory.

It uses the Scala compiler that ships in the Spark distribution's jars
($SPARK_HOME/jars), so the build needs no dependency resolution and writes
only under .bench_build/ in the checkout. The output directory is keyed by a
hash of every source file, so an unchanged tree is built once.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", BENCH / "src"]
BUILD = ROOT / ".bench_build" / "perfbench"
SCALAC_OPTS = ["-nowarn", "-release", "17"]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark distribution")
    return Path(home) / "jars"


def sources() -> list:
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit(f"perfbench: source directory missing: {missing[0]}")
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not files:
        raise SystemExit("perfbench: no Scala sources found")
    return files


def source_hash(files: list) -> str:
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build() -> tuple:
    """Compile if needed; return (class directory, source hash)."""
    files = sources()
    key = source_hash(files)
    out = BUILD / f"classes-{key}"
    if (out / ".complete").exists():
        return out, key
    staging = BUILD / f"staging-{key}-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = staging / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           *SCALAC_OPTS, "-d", str(staging), "-classpath", jars, f"@{argfile}"]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({done.returncode})")
    argfile.unlink()
    (staging / ".complete").write_text(key + "\n")
    shutil.rmtree(out, ignore_errors=True)
    staging.rename(out)
    return out, key


if __name__ == "__main__":
    print(build()[0])
