#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload merge_bot --seed 1 --seconds 8 --trace 0

Builds the engine's sources together with the benchmark program (sbt, in
perfbench/), then runs it in one JVM without sbt. The last line
of stdout is the result JSON; BENCHMARK.json names its metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import zipfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
# The compiled classes as one jar, and a class-data-sharing archive of the
# classes a run loads: the first run after a build writes it, later runs
# map it and start Spark several seconds sooner.
JAR = os.path.join(BENCH, "target", "perfbench.jar")
CDS = os.path.join(BENCH, "target", "perfbench.jsa")
WORK = os.path.join(BENCH, ".work")
# Java 17 module opens Spark needs outside spark-submit (as tools/run.sh).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# One JVM runs Spark local[4]; 3 GB of heap fits beside other work on a 15 GB host.
HEAP = "3g"
RESULT = "PERFBENCH_RESULT "
# A run must end within 180 s, or 900 s when it also builds.
RUN_TIMEOUT_S = 170
FIRST_RUN_LIMIT_S = 890
BUILD_TIMEOUT_S = 700


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for top in SOURCES + [os.path.join(BENCH, "build.sbt"),
                          os.path.join(BENCH, "project", "build.properties")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs if f.endswith(".scala"))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run(cmd, cwd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group.
    Returns the exit code, or None after a timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build():
    digest = source_digest()
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    print("perfbench: building", file=sys.stderr)
    if run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], BENCH, BUILD_TIMEOUT_S,
           stdout=sys.stderr) != 0:
        fail("build failed", 3)
    with zipfile.ZipFile(JAR, "w") as jar:
        for d, _, fs in os.walk(CLASSES):
            for f in sorted(fs):
                p = os.path.join(d, f)
                jar.write(p, os.path.relpath(p, CLASSES))
    if os.path.exists(CDS):
        os.remove(CDS)
    with open(STAMP, "w") as f:
        f.write(digest)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return os.path.join(home, "jars")


def check_result(res, trace):
    """The result must carry exactly the metrics BENCHMARK.json lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])
        fail(f"metrics differ from BENCHMARK.json: missing {missing} extra {extra} unit {wrong}", 4)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.monotonic()
    if not os.path.isdir(SOURCES[0]):
        fail("the engine's sources (src/main/scala) are not in this checkout")
    build()
    jars = spark_jars()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}",
        # keep JIT compiler threads alive, so the engine's CPU time (process
        # CPU minus compiler threads) never loses an exited thread's share
        "-XX:-UseDynamicNumberOfCompilerThreads",
        # JVM warnings (class-data sharing among them) go to stderr
        "-Xlog:disable", "-Xlog:all=warning:stderr",
        "-XX:SharedArchiveFile=" + CDS if os.path.exists(CDS) else "-XX:ArchiveClassesAtExit=" + CDS,
        "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", JAR + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work-dir", run_dir]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    lines = []

    def pump():
        for line in proc.stdout:
            if line.startswith(RESULT):
                lines.append(line)
            else:
                sys.stdout.write(line)
                sys.stdout.flush()

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        try:
            proc.wait(timeout=min(RUN_TIMEOUT_S, FIRST_RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail("workload did not finish in time", 5)
        reader.join(timeout=10)
        if a.trace and os.path.exists(os.path.join(run_dir, "spans.jsonl")):
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.move(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)
    if not lines:
        fail(f"workload exited with code {proc.returncode} and no result", 6)
    result = json.loads(lines[-1][len(RESULT):])
    check_result(result, a.trace)
    print(json.dumps(result))
    sys.stdout.flush()
    if not result["correct"] or proc.returncode != 0:
        fail("output check failed", 1)


if __name__ == "__main__":
    main()
