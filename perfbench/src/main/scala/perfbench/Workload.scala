package perfbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one measured phase of a workload did. Only operations that
  * completed and passed their output check are timed; the others count
  * as failed. */
final class Phase {
  /** Latencies of the workload's main operation, and of the others. */
  val latenciesMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val secondaryMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  /** Items the phase completed (ops, features, documents). */
  var work = 0.0
  var elapsedS = 0.0
  /** Engine CPU time of each main operation. */
  val cpuMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** Per-layer metrics the workload measured in a traced phase. */
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty


  /** Times `op` and the engine CPU it uses; `check` then returns the
    * items served or throws. */
  def timed[T](what: String, primary: Boolean = true)(op: => T)(
      check: T => Double): Unit = {
    val t0 = System.nanoTime()
    val cpu0 = EngineCpu.seconds()
    try {
      val out = op
      val ms = (System.nanoTime() - t0) / 1e6
      val cpuMsOfOp = 1000 * (EngineCpu.seconds() - cpu0)
      work += check(out)
      attempted += 1
      if (primary) { latenciesMs += ms; cpuMs += cpuMsOfOp } else secondaryMs += ms
    } catch {
      case e: Throwable =>
        attempted += 1; failed += 1
        System.err.println(s"FAILED $what: $e")
    }
  }
}

/** A failed output check. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Warm {
  /** Runs `op` once, then (unless `once`) again until [[Main.WarmUpS]]
    * have passed; a failure is an error, since the warm-up sees the same
    * inputs as the measured run. */
  def up(op: Phase => Unit, once: Boolean = false): Unit = {
    val ph = new Phase
    val t0 = System.nanoTime()
    do op(ph) while (!once && ph.failed == 0 && System.nanoTime() - t0 < Main.WarmUpS * 1e9)
    Check(ph.failed == 0, "warm-up failed")
  }
}

object Check {
  def apply(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)
}

/** One benchmark workload: seeded inputs, an untimed warm-up, and a
  * measured loop that checks every output. */
trait Workload {
  /** Writes the inputs for `seed` as parquet under `dir` and returns the
    * input properties an optimisation may depend on. */
  def generate(spark: SparkSession, dir: File, seed: Long): Seq[(String, Double)]

  /** Reads the inputs under `dir` and runs the untimed warm-up: at least
    * one operation and [[Main.WarmUpS]] seconds of them. `work` is
    * scratch space. */
  def open(spark: SparkSession, dir: File, work: File): Unit

  /** Stops whatever `open` started. */
  def close(): Unit = ()

  /** Runs operations for about `seconds`; spans go to `tr`, and in a
    * traced phase the workload adds its per-layer metrics from `ls`. */
  def measure(seconds: Double, tr: Tracer, ls: Option[Listeners]): Phase
}
