#!/usr/bin/env python3
"""Snapshot-delivery benchmark entry point.

    python3 perfbench/run.py --workload small_files|records|bulk \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py), runs one benchmark JVM, and prints its
metrics; the last line of standard output is the JSON result. Build
output, inputs, logs and per-run artifacts go under .bench_build/perfbench.
Exits non-zero, without a result line, if the build or the run fails.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("small_files", "records", "bulk")
HEAP = "3g"
# A run must end within 180 s, or 900 s when it builds; the JVM is stopped
# early enough to leave headroom for reporting and clean-up.
DEADLINE_S, BUILD_DEADLINE_S = 170, 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    start = time.monotonic()
    try:
        classes, built = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 1

    base = build.ROOT / ".bench_build" / "perfbench"
    work = base / "work" / a.workload
    logs = base / "logs"
    tmp = base / "tmp"
    for d in (work, logs, tmp):
        d.mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(c) for c in classes] + [str(build.spark_jars() / "*")])
    cmd = [build.java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", 
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dperfbench.xmx={HEAP}", f"-Dperfbench.gitSha={git_sha()}",
           f"-Dperfbench.sourceHash={(classes[0] / '.stamp').read_text()}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work), "--artifacts", str(base / "artifacts")]

    log_path = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        # if this script is told to stop, the JVM stops with it
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        lines = []
        deadline = start + (BUILD_DEADLINE_S if built else DEADLINE_S)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
            lines = out.splitlines()
        except subprocess.TimeoutExpired:
            print("[perfbench] run exceeded its deadline; stopped", file=sys.stderr)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGTERM)
                try:
                    proc.wait(timeout=15)
                except subprocess.TimeoutExpired:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()

    result = None
    for line in lines:
        if line.startswith("{"):
            result = line
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        print(f"[perfbench] run failed (exit {proc.returncode}); log: {log_path}",
              file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    parsed = json.loads(result)
    if set(parsed) != {"correct", "attempted", "failed", "metrics"}:
        print("[perfbench] malformed result line", file=sys.stderr)
        return 1
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
