#!/usr/bin/env python3
"""Count Spark codegen compiles in one perfbench workload run.

    python3 tools/codegen_census.py curation 1

Runs the jar that perfbench/run.py builds (building it first if the
sources changed) with tools/codegen-log4j2.properties, which logs Spark's
CodeGenerator at INFO. Each "Code generated in" line is one Janino compile,
that is one miss in Spark's codegen cache. Prints the compiles of each phase
of the run:

  generate      the three input generations (before the `inputs` line)
  warm-up       opening the inputs and the untimed warm-up (before the
                `setup:` line); with no steady-state misses, this is the
                number of cache entries one operation needs
  measured      the measured window (BENCHMARK.json's run_seconds), also
                divided by its operations (the count of latencies on the
                `op latencies` line)

Spark's cache holds 100 entries in 4 LRU segments of 25; a key's segment
depends on the classloader's identity hash, so it varies from run to run.
"""
import argparse
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOG4J = os.path.join(ROOT, "tools", "codegen-log4j2.properties")
COMPILE = re.compile(r"Code generated in ([0-9.]+) ms")


def load_run():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(ROOT, "perfbench", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("seed", type=int)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    run = load_run()
    run.build()
    work = tempfile.mkdtemp(prefix="codegen-census-")
    cmd = ["java"] + [x for p in run.OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{run.HEAP}", "-Xlog:disable", "-Xlog:all=warning:stderr",
        "-Dlog4j2.configurationFile=" + LOG4J,
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", run.JAR + os.pathsep + os.path.join(run.spark_jars(), "*"), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(seconds),
        "--trace", "0", "--work-dir", work]
    phases = [["generate", 0, 0.0], ["warm-up", 0, 0.0], ["measured", 0, 0.0]]
    phase, ops, result = 0, None, None
    try:
        # one pipe for both streams keeps the log lines and the phase
        # markers in the order the JVM wrote them
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=subprocess.STDOUT, text=True)
        for line in proc.stdout:
            m = COMPILE.search(line)
            if m:
                phases[phase][1] += 1
                phases[phase][2] += float(m.group(1))
            elif line.startswith("inputs ") and phase == 0:
                phase = 1
            elif line.startswith("setup:"):
                phase = 2
            elif line.startswith("op latencies ms:"):
                ops = len(line.split(":", 1)[1].split(";")[0].split())
                phase = 3
                phases.append(["after", 0, 0.0])
            elif line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            elif "FAILED" in line or "Exception" in line:
                sys.stderr.write(line)
        proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if ops is None:
        sys.exit(f"codegen_census: no `op latencies` line (exit code {proc.returncode})")
    print(f"{a.workload} seed {a.seed}: compiles (Janino ms)")
    for name, n, ms in phases[:3]:
        print(f"  {name:<9} {n:>5} ({ms:.0f} ms)")
    print(f"  per op    {phases[2][1] / max(ops, 1):>5.1f} over {ops} ops")
    if result is not None:
        print(f"  correct {result['correct']}, failed {result['failed']}")
    sys.exit(0 if result is not None and result["correct"] else 1)


if __name__ == "__main__":
    main()
