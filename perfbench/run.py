"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload nested_scan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the program from source first (see build.py), then starts one JVM
with a local[4] Spark session. Everything the run writes lives under
.bench_build/perfbench/ and the per-run work directory is removed at exit.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["nested_scan", "operator_mix"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# a run must end within 180 s, or 900 s when it also had to build
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880


def java_command(classes: Path, work: Path, main: str, args: list) -> list:
    # a fixed-size heap, so no run's timings depend on how its heap grew
    return (["java", "-Xmx2g", "-Xms2g", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + [f"-Djava.io.tmpdir={work / 'tmp'}",
               f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
               "-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*", main] + args)


def run_jvm(cmd: list, deadline: float) -> tuple:
    """Runs the JVM to completion or the deadline; returns (code, stdout lines)."""
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(*_):
        child.kill()
        child.wait()
        raise SystemExit(1)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = child.communicate(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 1, []
    return child.returncode, out.splitlines()


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = p.parse_args()
    if not a.selftest and a.workload is None:
        p.error("--workload is required")

    start = time.monotonic()
    stamp_before = build.STAMP.read_text() if build.STAMP.is_file() else None
    try:
        classes = build.build()
    except (subprocess.SubprocessError, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1
    built = stamp_before != build.STAMP.read_text()
    deadline = start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)

    work = build.OUT / "work" / str(os.getpid())
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        if a.selftest:
            code, lines = run_jvm(java_command(classes, work, "perfbench.SelfTest", [str(work)]), deadline)
            print("\n".join(lines))
            return code
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work)]
        code, lines = run_jvm(java_command(classes, work, "perfbench.Main", args), deadline)
        result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
        for line in lines:
            if line is not result:
                print(line)
        if code != 0 or result is None:
            print(f"perfbench: run failed with exit code {code}", file=sys.stderr)
            return code or 1
        print(result)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
