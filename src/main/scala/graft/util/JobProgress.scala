package graft.util

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlShims, SparkSession}

/** Bot progress totals (SURVEY §2 E6): the reference's bots maintain
  * processed/total counters that the operator UI polls while a run is in
  * flight (`MergePlaceBot.java:308-316`, `TripAdvisorBot.java:123-131` —
  * `progress`/`total` fields bumped per processed place batch).
  *
  * Spark already schedules the work, so the faithful re-expression is
  * instrumentation, not a data operator: a `SparkListener` that counts
  * scheduled vs completed TASKS (the engine's unit of progress) and the
  * records they read. Listener callbacks arrive on the listener-bus
  * thread while actions run on the caller's — hence the atomics — and a
  * snapshot can be polled at any time, exactly like the reference's
  * counters. Attach one per logical "bot run", scope it with
  * [[JobProgress.attached]], and read [[JobProgress.snapshot]] from a
  * monitoring thread.
  */
final class JobProgress extends SparkListener {

  private val tasksTotal = new AtomicLong
  private val tasksDone = new AtomicLong
  private val recordsRead = new AtomicLong

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    tasksTotal.addAndGet(s.stageInfo.numTasks.toLong)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasksDone.incrementAndGet()
    val m = t.taskMetrics
    if (m != null) recordsRead.addAndGet(m.inputMetrics.recordsRead)
  }

  /** Point-in-time progress; `fraction` is 0 until the first stage is
    * submitted (the reference's counters start at 0/0 the same way). */
  def snapshot: JobProgress.Progress = {
    val total = tasksTotal.get()
    val done = tasksDone.get()
    JobProgress.Progress(done, total, recordsRead.get(),
      if (total == 0) 0.0 else done.toDouble / total)
  }
}

object JobProgress {

  final case class Progress(tasksDone: Long, tasksTotal: Long,
                            recordsRead: Long, fraction: Double)

  /** Run `body` with a fresh listener attached, detaching it afterwards
    * (listeners leak across queries otherwise); returns the body's result
    * and the final progress, read once the async listener bus has
    * delivered every event the body's jobs posted. */
  def attached[T](spark: SparkSession)(body: => T): (T, Progress) = {
    val l = new JobProgress
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      GraftSqlShims.drainListenerBus(spark)
      (r, l.snapshot)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
