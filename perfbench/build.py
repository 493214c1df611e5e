"""Builds the benchmark: the repo's main sources plus perfbench/src, compiled
with the Scala compiler that ships in the Spark distribution, into
.bench_build/perfbench/classes. Skips the build when no source changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.sha256"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark distribution with a Scala compiler at {jars}")
    return jars


def sources() -> list:
    missing = [str(d.relative_to(ROOT)) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit(f"perfbench: source directories missing: {', '.join(missing)}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Returns the classes directory, compiling first if it is stale."""
    files = sources()
    want = digest(files)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == want:
        return CLASSES
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = OUT / "scalac.args"
    args.write_text("\n".join(str(f) for f in files))
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", str(tmp), f"@{args}"],
        check=True, stdout=sys.stderr, timeout=800)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(want)
    return CLASSES


if __name__ == "__main__":
    print(build())
