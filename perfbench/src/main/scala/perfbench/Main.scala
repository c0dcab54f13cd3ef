package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *        --trace <0|1> --work-dir <dir>
  *
  * The last stdout line is `PERFBENCH_RESULT {json}`; `run.py` checks it
  * against BENCHMARK.json and prints the JSON alone. */
object Main {

  val workloads: Map[String, () => Workload] = Map(
    "op_ingest" -> (() => new OpIngest),
    "merge_bot" -> (() => new MergeBot),
    "curation" -> (() => new Curation))

  /** Layers whose self time the traced run reports. */
  val layers: Seq[String] =
    Seq("api", "spark", "places", "geo", "text", "functions", "pipeline", "streaming")

  /** Set-up is repeated this many times; setup_s takes the median. */
  val SetupRepeats = 3

  /** Each workload warms up for at least one operation and this long. */
  val WarmUpS = 6.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work-dir"))
    work.mkdirs()
    val w = workloads.getOrElse(name, sys.error(s"unknown workload $name"))()

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(new File(work, "checkpoints").getAbsolutePath)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    // set-up, repeated: each repeat generates the seed's inputs afresh,
    // which also shows that one seed always writes byte-identical inputs
    val gens = (0 until SetupRepeats).map { i =>
      val dir = new File(work, s"inputs-$i")
      val t0 = System.nanoTime()
      val props = w.generate(spark, dir, seed)
      val s = (System.nanoTime() - t0) / 1e9
      (dir, props, s, Gen.digest(dir))
    }
    val identical = gens.map(_._4).distinct.size == 1
    if (!identical) System.err.println(s"inputs differ between generations: ${gens.map(_._4)}")
    gens.tail.foreach(g => Gen.deleteTree(g._1))
    val props = gens.head._2
    println("inputs " + Json.obj(props.map { case (k, v) => k -> Json.num(v) } :+
      ("digest" -> Json.str(gens.head._4)) :+ ("identical_across_generations" -> identical.toString)))
    val tOpen = System.nanoTime()
    w.open(spark, gens.head._1, work)
    val warmS = (System.nanoTime() - tOpen) / 1e9
    System.err.println(f"setup: session $sessionS%.2f s, generate ${gens.map(g => f"${g._3}%.2f").mkString(" ")} s, " +
      f"open and warm-up $warmS%.2f s")
    val setupS = sessionS + Stats.median(gens.map(_._3)) + warmS
    val plain = w.measure(seconds, new Tracer(false), None)
    val wall = Seq(
      "wall.op_p50_ms" -> Stats.median(plain.latenciesMs.toSeq),
      "wall.work_per_s" -> plain.work / plain.elapsedS)
    println("wall " + Json.obj(wall.map { case (k, v) => k -> Json.num(v) }))
    System.err.println("op latencies ms: " + plain.latenciesMs.map(x => f"$x%.0f").mkString(" ") +
      "; engine cpu ms: " + plain.cpuMs.map(x => f"$x%.0f").mkString(" "))

    val metrics: Seq[(String, Double, String)] = if (!trace) Seq(
      ("setup_s", setupS, "s"),
      ("cpu_ms_per_op", Stats.median(plain.cpuMs.toSeq), "ms"))
    else {
      val tr = new Tracer(true)
      val ls = new Listeners(spark)
      val traced = w.measure(seconds, tr, Some(ls))
      val sparkM = ls.sparkMetrics
      ls.remove()
      tr.write(new File(work, "spans.jsonl"))
      val self = tr.selfMsByLayer
      val p50Plain = Stats.median(plain.latenciesMs.toSeq)
      val p50Traced = Stats.median(traced.latenciesMs.toSeq)
      val perLayer = wall ++ sparkM ++ traced.layer.toSeq ++
        layers.map(l => s"self.${l}_ms" -> self.getOrElse(l, 0.0)) ++ Seq(
          "trace.overhead_ms" -> (p50Traced - p50Plain),
          "trace.overhead_pct" -> 100 * (p50Traced - p50Plain) / p50Plain)
      plain.attempted += traced.attempted
      plain.failed += traced.failed
      val measured = perLayer.toMap
      PerLayer.names.map(k => (k, measured.getOrElse(k, 0.0), PerLayer.unit(k)))
    }

    val correct = identical && plain.failed == 0 && plain.attempted > 0
    val json = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> plain.attempted.toString,
      "failed" -> plain.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    w.close()
    spark.stop()
    println("PERFBENCH_RESULT " + json)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** CPU time the engine's own threads use: the process's CPU time minus
  * that of the JIT compiler threads, whose work depends on how far
  * compilation has got rather than on the workload. Read from Linux'
  * per-thread accounting, which leaves out time stolen by the hypervisor. */
object EngineCpu {
  private val TicksPerS = 100.0

  def seconds(): Double = {
    def ticks(stat: java.io.File): Option[(String, Long)] = scala.util.Try {
      val st = new String(java.nio.file.Files.readAllBytes(stat.toPath), "UTF-8")
      val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
      (st.substring(st.indexOf('(') + 1, st.lastIndexOf(')')), f(11).toLong + f(12).toLong)
    }.toOption
    val process = ticks(new java.io.File("/proc/self/stat")).map(_._2).getOrElse(0L)
    val compilers = Option(new java.io.File("/proc/self/task").listFiles).toSeq.flatten
      .flatMap(t => ticks(new java.io.File(t, "stat")))
      .collect { case (name, t) if name.contains("CompilerThre") => t }.sum
    (process - compilers) / TicksPerS
  }
}

/** The per-layer metrics every traced run prints. A layer a workload
  * does not call reads 0. */
object PerLayer {
  val names: Seq[String] = Seq(
    "wall.op_p50_ms", "wall.work_per_s",
    "spark.exec_cpu_s", "spark.gc_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.task_wait_ms", "spark.stage_skew",
    "spark.single_task_stage_ms", "spark.storage_mb",
    "streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.commit_ms",
    "state.bytes_written_per_op", "state.files_per_batch", "state.tiles_rewritten_per_batch",
    "state.disk_bytes_per_live_place", "api.snapshot_ms",
    "api.history_ms", "geo.pairs_ms", "geo.pairs_per_point", "geo.probe_rows_per_point",
    "geo.cc_ms", "places.merge_ms", "places.merge_ratio", "places.max_group_size",
    "text.match_ns_per_pair",
    "pipeline.exact_ms", "pipeline.lsh_pairs_ms", "pipeline.resolve_ms", "pipeline.contam_ms",
    "pipeline.signals_ms", "pipeline.lsh_candidates_per_doc", "pipeline.lsh_verify_ratio",
    "functions.minhash_ns_per_row", "functions.ngram_ns_per_row") ++
    Main.layers.map(l => s"self.${l}_ms") ++
    Seq("trace.overhead_ms", "trace.overhead_pct")

  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ns_per_row") || name.endsWith("_ns_per_pair")) "ns"
    else if (name.endsWith("_pct")) "%"
    else if (name.endsWith("bytes_written_per_op") || name.endsWith("disk_bytes_per_live_place")) "B"
    else if (name.endsWith("_skew") || name.contains("ratio") || name.contains("_per_")) "ratio"
    else "count"
}

/** Just enough JSON for flat numbers, strings and nested objects. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
