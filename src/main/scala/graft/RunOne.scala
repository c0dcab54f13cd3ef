package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftSqlShims
import org.apache.spark.sql.execution.ExplainMode

import graft.util.PlanCapture

/** Dev launcher. Runs catalog queries, one
  * `name[i]: n rows in … s cpu=… s run=… s stages=…` line per run
  * (`tools/ab.sh` parses it). `--explain[=mode]` (default `formatted`)
  * first prints every plan the query executed while it was built, each
  * labelled with its action (e.g. `localCheckpoint`), then the final
  * plan; `--stages` prints each stage's metrics to stderr. With no query
  * it is a smoke check: `SparkEntry.entry` must return rows, else exit 1.
  * Usage: tools/run.sh graft.RunOne [q1,q2,...] [sfDir] [--times N]
  *          [--explain[=mode]] [--stages] */
object RunOne {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.filterNot(_.startsWith("--")).map(_.split(",").toSeq)
    val sfDir = args.lift(1).filterNot(_.startsWith("--")).getOrElse("/root/testdata/sf0.01")
    val times = args.sliding(2).collectFirst {
      case Array("--times", n) => n.toInt }.getOrElse(1)
    val explain = args.collectFirst { case a if a.startsWith("--explain") =>
      ExplainMode.fromString(a.stripPrefix("--explain").stripPrefix("=") match {
        case "" => "formatted"
        case m => m
      })
    }
    val spark = GraftSession.local(GraftSession.cpus)
    if (names.isEmpty) {
      val df = SparkEntry.entry(spark)
      val n = df.count()
      df.show(5, truncate = false)
      println(s"SMOKE rows=$n ${if (n > 0) "PASS" else "FAIL"}")
      spark.stop()
      sys.exit(if (n > 0) 0 else 1)
    }
    // per-run totals: executor CPU is steal/contention-resistant where
    // wall time on a shared host is not — use it (plus the stage count)
    // as the primary optimization signal. --stages also prints every
    // stage at or above GRAFT_STAGE_MS (default 500; 0 shows all, as
    // overhead-dominated queries are many small stages).
    val floorMs = if (args.contains("--stages"))
      Some(sys.env.getOrElse("GRAFT_STAGE_MS", "500").toLong) else None
    val cpuNs, runNs, stageN = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        cpuNs.addAndGet(tm.executorCpuTime)
        runNs.addAndGet(tm.executorRunTime * 1000000L)
        stageN.incrementAndGet()
        val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        if (floorMs.exists(ms >= _))
          System.err.println(f"[stage ${si.stageId}%4d] ${ms / 1000.0}%7.1fs " +
            f"tasks=${si.numTasks}%3d cpu=${tm.executorCpuTime / 1e9}%6.1fs " +
            f"run=${tm.executorRunTime / 1e3}%6.1fs " +
            f"deser=${tm.executorDeserializeTime / 1e3}%5.1fs " +
            f"gc=${tm.jvmGCTime / 1e3}%5.1fs " +
            f"sRead=${tm.shuffleReadMetrics.recordsRead}%8d " +
            f"sWrite=${tm.shuffleWriteMetrics.recordsWritten}%8d " +
            f"in=${tm.inputMetrics.recordsRead}%8d  ${si.name.take(70)}")
      }
    })
    for (name <- names.get; i <- 1 to times) {
      val t0 = System.nanoTime()
      cpuNs.set(0L); runNs.set(0L); stageN.set(0L)
      def build() = SparkEntry.queries(name)(spark, sfDir)
      val df = explain.filter(_ => i == 1).fold(build()) { mode =>
        val (df, executed) = PlanCapture(spark)(build())
        executed.foreach(e => println(s"==== $name: ${e.action} ====\n" +
          e.qe.explainString(mode)))
        println(s"==== $name: final plan ====\n" + df.queryExecution.explainString(mode))
        df
      }
      val n = df.count()
      GraftSqlShims.drainListenerBus(spark)
      println(f"$name[$i]: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        f"cpu=${cpuNs.get / 1e9}%.1f s run=${runNs.get / 1e9}%.1f s " +
        f"stages=${stageN.get}")
      GraftSession.reset(spark)
    }
    spark.stop()
  }
}
