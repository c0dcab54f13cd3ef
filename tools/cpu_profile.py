#!/usr/bin/env python3
"""Where the CPU of one perfbench workload's measured window goes.

    python3 tools/cpu_profile.py curation 1

Runs the jar that perfbench/run.py builds (building it first if the
sources changed) under the JDK's Flight Recorder, with 1 ms method sampling
and a stack depth of 1024: JFR's default depth of 64 keeps only the
innermost frames, and Spark's stacks are deeper than that, so the operator
that started the work would be lost. The run length is BENCHMARK.json's
run_seconds. Prints, for the measured window only (from the `setup:` line
to the `op latencies` line):

  thread groups   CPU ms per operation of each group of JVM threads, from
                  /proc/<pid>/task/*/stat snapshots taken at the two lines
                  (a thread that exits inside the window loses its share)
  categories      the share of execution samples whose stack holds a frame
                  of each category: Spark's analysis, optimizer and
                  AQE/physical planning, closure cleaning, Java
                  (de)serialization, parquet reads and writes, Hadoop shell
                  forks, Janino compiles, the builtin string machinery the
                  curation signals used to run on, and one row per native
                  kernel of graft.functions.Native. A sample can fall in
                  more than one category, so the shares need not sum to 100%.
  main thread     the main thread's samples as an operator table: one row
                  per innermost `graft.` frame (the engine method the
                  sample ran under; "(no graft frame)" for the benchmark's
                  own code), one column per outermost Spark phase on the
                  stack: eager (analysis while a Dataset API call builds
                  its Dataset), analysis (any other), optimizer, planning
                  (physical planning and AQE), closures (closure cleaning),
                  encoders (encoder building), other (none of these: job
                  submission, result handling, the benchmark's checks).
                  Each sample counts once.
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
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NATIVE = os.path.join(ROOT, "src", "main", "scala", "graft", "functions", "Native.scala")

SETTINGS = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="cpu_profile">
  <event name="jdk.ExecutionSample">
    <setting name="enabled">true</setting>
    <setting name="period">1 ms</setting>
  </event>
</configuration>
"""

# (group, comm prefixes); Linux truncates a thread's name to 15 bytes
THREAD_GROUPS = [
    ("executor tasks", ("Executor task l",)),
    ("main", ("java", "main")),
    ("stream execution", ("stream executio",)),
    ("JIT compilers", ("C1 CompilerThre", "C2 CompilerThre")),
    ("GC and VM", ("GC Thread", "G1 ", "VM Thread", "VM Periodic")),
    ("JFR", ("JFR ",)),
    ("Spark scheduler and bus", ("dag-scheduler", "spark-listener", "task-result-get",
                                 "dispatcher-", "executor-heart", "driver-heartbe")),
]

CATEGORIES = [
    ("analysis", ("org.apache.spark.sql.catalyst.analysis.Analyzer.",
                  "org.apache.spark.sql.catalyst.analysis.CheckAnalysis")),
    ("optimizer", ("org.apache.spark.sql.catalyst.optimizer.",
                   "org.apache.spark.sql.execution.SparkOptimizer")),
    ("AQE/planning", ("AdaptiveSparkPlanExec.reOptimize", "AdaptiveSparkPlanExec.createQueryStages",
                      "AdaptiveSparkPlanExec.newQueryStage", "AdaptiveSparkPlanExec$.applyPhysicalRules",
                      "QueryExecution$.prepareForExecution",
                      "org.apache.spark.sql.catalyst.planning.QueryPlanner.plan")),
    ("closure cleaning", ("org.apache.spark.util.ClosureCleaner",
                          "org.apache.spark.util.SparkClosureCleaner")),
    ("Java (de)serialization", ("java.io.ObjectOutputStream", "java.io.ObjectInputStream")),
    ("parquet read", ("org.apache.parquet.hadoop.ParquetFileReader",
                      "org.apache.parquet.column.impl.ColumnReader",
                      "datasources.parquet.VectorizedParquetRecordReader",
                      "datasources.parquet.VectorizedColumnReader")),
    ("parquet write", ("org.apache.parquet.hadoop.ParquetWriter",
                       "org.apache.parquet.hadoop.InternalParquetRecordWriter",
                       "org.apache.parquet.hadoop.ParquetFileWriter",
                       "datasources.parquet.ParquetOutputWriter")),
    ("Hadoop shell forks", ("org.apache.hadoop.util.Shell",)),
    ("Janino compiles", ("org.codehaus.janino.", "org.codehaus.commons.compiler.")),
    ("builtin: lambda filter", ("catalyst.expressions.ArrayFilter",)),
    ("builtin: regex", ("java.util.regex.",)),
    ("builtin: string split", ("org.apache.spark.unsafe.types.UTF8String.split",)),
]

# Spark driver phases by the engine frames doing the work: a sample belongs
# to the phase of its outermost matching frame, counting from the thread's
# root, so AQE re-optimizing stays AQE and an encoder resolving itself stays
# encoder building. Analysis is "eager" when a Dataset is being constructed
# outside it: classic Datasets analyze their plan in the constructor.
PHASES = [
    ("analysis", ("org.apache.spark.sql.catalyst.analysis.Analyzer.",
                  "org.apache.spark.sql.catalyst.analysis.CheckAnalysis")),
    ("optimizer", ("QueryExecution.$anonfun$lazyOptimizedPlan",
                   "org.apache.spark.sql.catalyst.optimizer.",
                   "org.apache.spark.sql.execution.SparkOptimizer")),
    ("planning", ("QueryExecution$.createSparkPlan", "QueryExecution$.prepareForExecution",
                  "AdaptiveSparkPlanExec.reOptimize", "AdaptiveSparkPlanExec.createQueryStages",
                  "AdaptiveSparkPlanExec.newQueryStage", "AdaptiveSparkPlanExec$.applyPhysicalRules",
                  "org.apache.spark.sql.catalyst.planning.QueryPlanner.plan")),
    ("closures", ("org.apache.spark.util.ClosureCleaner",
                  "org.apache.spark.util.SparkClosureCleaner")),
    ("encoders", ("org.apache.spark.sql.catalyst.encoders.",
                  "org.apache.spark.sql.catalyst.ScalaReflection",
                  "org.apache.spark.sql.catalyst.DeserializerBuildHelper",
                  "org.apache.spark.sql.catalyst.SerializerBuildHelper")),
]
EAGER = ("eager", ("org.apache.spark.sql.classic.Dataset$.ofRows",
                   "org.apache.spark.sql.classic.Dataset.<init>"))
OTHER_PHASE = "other"
MAIN_THREAD = "main"
TOP_OPERATORS = 15

FRAME = re.compile(r"^\s{4}(\S.*?)(?: line: \d+)?$")
THREAD = re.compile(r'^\s*sampledThread = "(.*)" \(')
START = re.compile(r"^\s*startTime = (\d\d):(\d\d):(\d\d)\.(\d+)")


def load_run():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(ROOT, "perfbench", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def native_kernels():
    with open(NATIVE) as f:
        return sorted(set(re.findall(r"classOf\[(\w+)\]", f.read())))


def thread_cpu(pid):
    """tid -> (comm, utime + stime in clock ticks) of every live thread."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        rest = stat[stat.rindex(")") + 2:].split()
        out[tid] = (comm, int(rest[11]) + int(rest[12]))
    return out


def group_of(comm):
    for name, prefixes in THREAD_GROUPS:
        if comm.startswith(prefixes):
            return name
    return "other"


def seconds_of_day(t):
    lt = time.localtime(t)
    return lt.tm_hour * 3600 + lt.tm_min * 60 + lt.tm_sec + (t % 1)


def phase_of(frames):
    """The outermost Spark phase on a stack (frames innermost first)."""
    for fr in reversed(frames):
        for name, markers in PHASES:
            if any(m in fr for m in markers):
                if name == "analysis" and any(m in f for f in frames for m in EAGER[1]):
                    return EAGER[0]
                return name
    return OTHER_PHASE


def operator_of(frames):
    """The innermost graft. frame, without its argument list."""
    for fr in frames:
        if fr.startswith("graft."):
            return fr.split("(", 1)[0]
    return "(no graft frame)"


def samples(recording, window):
    """Yields (thread name, frames innermost first) of each execution sample
    taken inside `window` (seconds of the local day, as `jfr print` renders
    start times)."""
    lo, hi = window
    inside = (lambda s: lo <= s <= hi) if lo <= hi else (lambda s: s >= lo or s <= hi)
    proc = subprocess.Popen(["jfr", "print", "--events", "jdk.ExecutionSample",
                             "--stack-depth", "1024", recording],
                            stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    frames, thread, keep, in_stack = [], None, False, False
    for line in proc.stdout:
        if line.startswith("jdk.ExecutionSample"):
            frames, thread, keep, in_stack = [], None, False, False
        elif in_stack:
            if line.startswith("  ]"):
                in_stack = False
                if keep:
                    yield thread, frames
            else:
                m = FRAME.match(line)
                if m:
                    frames.append(m.group(1))
        elif line.startswith("  stackTrace = ["):
            in_stack = True
        elif THREAD.match(line):
            thread = THREAD.match(line).group(1)
        else:
            m = START.match(line)
            if m:
                h, mi, s, frac = m.groups()
                keep = inside(int(h) * 3600 + int(mi) * 60 + int(s) + float("0." + frac))
    if proc.wait() != 0:
        sys.exit(f"cpu_profile: jfr print exited with {proc.returncode}")


def print_operator_table(table):
    """Main-thread samples: innermost graft. frame x outermost Spark phase,
    the TOP_OPERATORS busiest rows and the rest summed."""
    phases = [EAGER[0]] + [name for name, _ in PHASES] + [OTHER_PHASE]
    width = max(len(p) for p in phases) + 2
    rows = sorted(table, key=lambda op: -sum(table[op].values()))
    shown, rest = rows[:TOP_OPERATORS], rows[TOP_OPERATORS:]
    merged = {}
    for op in rest:
        for ph, n in table[op].items():
            merged[ph] = merged.get(ph, 0) + n
    body = [(op, table[op]) for op in shown] + ([(f"({len(rest)} more)", merged)] if rest else [])
    totals = {ph: sum(r.get(ph, 0) for r in table.values()) for ph in phases}
    print(f"  main thread: {sum(totals.values())} samples by innermost graft. frame and outermost Spark phase")
    print(f"    {'operator':<56}" + "".join(f"{p:>{width}}" for p in phases) + f"{'all':>{width}}")
    for op, row in body + [("all", totals)]:
        print(f"    {op[-56:]:<56}" + "".join(f"{row.get(p, 0):>{width}}" for p in phases) +
              f"{sum(row.values()):>{width}}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("seed", type=int)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    run = load_run()
    run.build()
    tmp = tempfile.mkdtemp(prefix="cpu-profile-")
    settings, recording = os.path.join(tmp, "probe.jfc"), os.path.join(tmp, "probe.jfr")
    with open(settings, "w") as f:
        f.write(SETTINGS)
    cmd = ["java"] + [x for p in run.OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{run.HEAP}", "-Xlog:disable", "-Xlog:all=warning:stderr",
        "-XX:FlightRecorderOptions:stackdepth=1024",
        f"-XX:StartFlightRecording:filename={recording},settings={settings},dumponexit=true",
        "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", run.JAR + os.pathsep + os.path.join(run.spark_jars(), "*"), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(seconds),
        "--trace", "0", "--work-dir", os.path.join(tmp, "work")]
    ops, result, snaps, marks = None, None, [], []
    try:
        # one pipe for both streams keeps the phase markers in the order
        # the JVM wrote them
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=subprocess.STDOUT, text=True)
        for line in proc.stdout:
            if line.startswith("setup:") or line.startswith("op latencies ms:"):
                marks.append(time.time())
                snaps.append(thread_cpu(proc.pid))
                if line.startswith("op latencies ms:"):
                    ops = len(line.split(":", 1)[1].split(";")[0].split())
            elif line.startswith(run.RESULT):
                result = json.loads(line[len(run.RESULT):])
            elif "FAILED" in line or "Exception" in line:
                sys.stderr.write(line)
        proc.wait()
        if ops is None or len(snaps) != 2:
            sys.exit(f"cpu_profile: no measured window seen (exit code {proc.returncode})")
        counts, total = {}, 0
        kernels = native_kernels()
        cats = CATEGORIES + [(f"native: {k}", (f"graft.functions.{k}.", f"graft.functions.{k}$"))
                             for k in kernels]
        table = {}
        for thread, frames in samples(recording, tuple(seconds_of_day(t) for t in marks)):
            total += 1
            for name, markers in cats:
                if any(m in fr for fr in frames for m in markers):
                    counts[name] = counts.get(name, 0) + 1
            if thread == MAIN_THREAD:
                row = table.setdefault(operator_of(frames), {})
                ph = phase_of(frames)
                row[ph] = row.get(ph, 0) + 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    tick_ms = 1000.0 / os.sysconf("SC_CLK_TCK")
    before, after = snaps
    groups = {}
    for tid, (comm, ticks) in after.items():
        g = group_of(comm)
        groups[g] = groups.get(g, 0) + ticks - before.get(tid, (comm, 0))[1]
    print(f"{a.workload} seed {a.seed}: {ops} ops in {marks[1] - marks[0]:.1f} s measured")
    print("  CPU ms per op by thread group")
    for g in sorted(groups, key=groups.get, reverse=True):
        print(f"    {g:<26} {groups[g] * tick_ms / max(ops, 1):>9.1f}")
    print(f"    {'all threads':<26} {sum(groups.values()) * tick_ms / max(ops, 1):>9.1f}")
    print(f"  share of {total} execution samples")
    for name, _ in cats:
        n = counts.get(name, 0)
        print(f"    {name:<30} {100.0 * n / max(total, 1):>6.1f}%  ({n})")
    print_operator_table(table)
    if result is not None:
        print(f"  correct {result['correct']}, failed {result['failed']}")
    sys.exit(0 if result is not None and result["correct"] else 1)


if __name__ == "__main__":
    main()
