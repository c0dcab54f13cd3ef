package graft.util

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** E6 progress counters: a monitored action reports complete, non-zero
  * task totals, record counts, and fraction 1.0 when done — and a
  * detached listener stops counting (the per-run scoping the reference's
  * per-bot counters have). */
class JobProgressSpec extends AnyFunSuite with SharedSpark {

  test("attached listener reports full progress for a monitored action") {
    import spark.implicits._
    val (count, p) = JobProgress.attached(spark) {
      spark.range(0, 10000).repartition(8).as[Long]
        .map(_ + 1).filter(_ % 2 == 0).count()
    }
    assert(count === 5000L)
    assert(p.tasksTotal > 0)
    assert(p.tasksDone === p.tasksTotal)
    assert(p.fraction === 1.0)
    assert(p.recordsRead > 0) // shuffle-read records of the count stage
  }

  test("progress is scoped to the attachment window") {
    import spark.implicits._
    val (_, p1) = JobProgress.attached(spark) {
      spark.range(0, 100).as[Long].count()
    }
    // work AFTER detach must not be counted; a fresh listener starts at 0
    spark.range(0, 100).count()
    val l2 = new JobProgress
    assert(l2.snapshot === JobProgress.Progress(0, 0, 0, 0.0))
    assert(p1.tasksDone === p1.tasksTotal && p1.tasksTotal > 0)
  }
}
