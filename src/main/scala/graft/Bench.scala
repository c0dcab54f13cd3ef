package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: session + codegen + reader initialization otherwise
    // lands entirely on whichever query happens to run first
    Tables.events(spark, sfDir).count()
    Tables.lineitem(spark, sfDir).count()
    Tables.customer(spark, sfDir).count()
    // deterministic name order: Map hash order shifts when queries are
    // added, which silently reshuffles warm-up effects between rounds
    // a query that throws is recorded as failed, never timed as if it ran.
    // StackOverflowError is caught too: Catalyst overflows the stack on
    // deep or iterative plans, and one such query must not end the run
    // before any result is printed
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e @ (scala.util.control.NonFatal(_) | _: StackOverflowError) =>
          System.err.println(s"[bench] $name failed: $e")
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // Queries may cache intermediates; nothing unpersists them once the
      // result is counted. Drop them so 70+ queries in one session don't
      // accumulate storage-memory pressure that skews later measurements.
      // BLOCKING on purpose: async unpersist overlaps block eviction with
      // the next timed run and charges it the cleanup cost.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      if (ok) Some(dt) else None
    }
    // one UNTIMED warmup execution, then three timed ones, headline =
    // MEDIAN: single-shot timings swung 3-5x between rounds with no code
    // change, and profiling showed generated classes take 1-2 full
    // executions to clear Janino compile + C2 JIT (a 32-task stage over
    // 1.4M rows measured 31 s CPU cold vs <0.5 s steady). The warmup run
    // absorbs that one-off cost the way JMH does, so the medians compare
    // the actual dataflow round-over-round; value_cold in the detail file
    // still records the warmup wall for anyone who wants the first-run
    // story.
    // dev loop: SPARK_GRAFT_ONLY=p3_minhash_lsh,p17_dedup_resolve limits the
    // run; absent (the driver's invocation) everything runs
    // fixed synthetic probe, data-independent: the host is intermittently
    // contended (identical runs observed 31 s vs 143 s minutes apart), so
    // each bench self-reports its noise floor. calib >> ~baseline means
    // the absolute numbers of THAT run are inflated by the environment,
    // not by a code change.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, cpus.toInt)
        .selectExpr("bit_xor(xxhash64(id)) AS x").head()
      (System.nanoTime() - t0) / 1e9
    }
    val calibBefore = Seq.fill(3)(calibrate())
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // a query counts only if its warm-up and all three timed runs complete;
    // otherwise it is listed as failed. A failed warm-up skips the timed runs
    val (results, failed) = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .partitionMap { case (name, fn) =>
      val warm = timed(name, fn)
      val runs = if (warm.isEmpty) Nil else Seq.fill(3)(timed(name, fn))
      if (warm.isEmpty || runs.exists(_.isEmpty)) Right(name)
      else Left((name, runs.flatten.sorted.apply(1), (warm +: runs).flatten))
    }
    // ONE compact JSON line: the driver captures only a bounded tail of
    // stdout, and r01/r02 proved a full-precision cold+warm dump (~6 KB)
    // gets front-truncated past parseability ("parsed": null). Three
    // decimals × one map keeps the line ~2 KB; the full per-run detail
    // goes to a file for local iteration instead.
    def r3(v: Double) = math.rint(v * 1000) / 1000
    def toJson(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = toJson(results.map(r => (r._1, r._2)))
    val qsAll = results.map { case (k, _, runs) =>
      s"\"" + k + "\":[" + runs.map(r3).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val calibAfter = Seq.fill(3)(calibrate())
    val calib = r3((calibBefore ++ calibAfter).sorted.apply(2))
    val total = r3(results.map(_._2).sum)
    val totalCold = r3(results.map(_._3.head).sum)
    // sf as a strict JSON number, or the quoted raw dir name when the
    // pattern doesn't match — "sf1." would otherwise emit an invalid JSON
    // token and break the very harness parse this field serves
    val sfNum = "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("\"" + sfDir.replace("\"", "") + "\"")
    val detail = s"""{"value_cold":$totalCold,"runs":$qsAll,""" +
      s""""calib_before":[${calibBefore.map(r3).mkString(",")}],""" +
      s""""calib_after":[${calibAfter.map(r3).mkString(",")}],""" +
      s""""queries_median":$qs,"sf_dir":"$sfDir"}"""
    def writeFile(path: String, text: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path), text.getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write $path: $e") }
    writeFile("target/bench_detail.json", detail)
    // Headline FIRST and LAST, queries in the middle: the driver records
    // a bounded window of stdout and r10's single fat line came back
    // "parsed": null — the per-query map pushed the headline scalars past
    // the cut, and the recorded artifact shows the window is a TAIL
    // (front-truncated). A ~150-byte complete-JSON headline line printed
    // both before and after the query map survives either cut: a
    // front-truncated capture still ends with a parseable headline line,
    // a tail-truncated one still starts with one.
    val headline =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
      s""""calib":$calib,"sf":$sfNum,"failed":$failedJson}"""
    println(headline)
    // The per-query map (~4.7 KB at 191 queries) exceeds the driver's stdout
    // tail window (~3 KB): r11 and r12 both captured it mid-truncated and the
    // driver's per-query comparison came back empty (PERF n_common: 0, two
    // rounds running blind). So the map goes out three ways: (a) ~15
    // SELF-CONTAINED complete JSON chunk lines, so any stdout tail window
    // holds parseable complete lines; (b) the single {"queries":{…}} line,
    // for a capture wide enough to hold it; (c) the full map, stamped with
    // the core count, in BENCH_queries_c<cpus>.json in the working
    // directory. Timing methodology (warmup + median of 3 timed count()
    // runs, blocking cache clear between runs) is UNCHANGED.
    val medians = results.map(r => (r._1, r._2))
    val chunks = medians.grouped(13).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      println(s"""{"queries_part":${i + 1},"of":${chunks.size},"q":${toJson(chunk)}}""")
    }
    println(s"""{"queries":$qs}""")
    val fullMap = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_queries":${results.size},"calib":$calib,"sf":$sfNum,""" +
      s""""cpus":$cpus,"failed":$failedJson,"queries":$qs}"""
    writeFile(s"BENCH_queries_c$cpus.json", fullMap)
    println(headline)
    spark.stop()
  }
}
