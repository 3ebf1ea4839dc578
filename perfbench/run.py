#!/usr/bin/env python3
"""Run one benchmark workload.

    python3 perfbench/run.py --workload fleet_day --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark (see build.py), then runs one JVM that
generates the seeded inputs, sets up, and measures the workload for
`--seconds`. The JVM's last stdout line, passed through unchanged, is the
JSON result. Exit code: 0 when every output check passed; 1 when a check
failed; 2 when the build or the repository layout is wrong; 3 on timeout or
a result that does not list exactly the metrics of BENCHMARK.json.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("fleet_day", "hourly_drops", "analyst_queries")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def expected_metrics(trace: bool) -> dict:
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    args = p.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2

    work = build.OUT / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "spark-local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}{os.pathsep}{jars / '*'}",
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--work-dir", str(work / "data"),
        "--spans", str(build.OUT / f"spans-{args.workload}-seed{args.seed}.jsonl"),
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        print("[perfbench] the run printed no result", file=sys.stderr)
        return proc.returncode or 3
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = expected_metrics(args.trace == "1")
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))
        print(f"[perfbench] metrics differ from BENCHMARK.json: {diff}", file=sys.stderr)
        return 3
    print(lines[-1], flush=True)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
