package graft

import org.apache.spark.sql.SparkSession

/** The one way graft's mains and specs get a local session: master
  * `local[cpus]`, one shuffle partition per core, UTC session time, no
  * UI, WARN logging. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the host's cores capped at 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** A local session on `cpus` cores with `overrides` set last.
    * Idempotent: `getOrCreate` returns the running session if there is
    * one, and then only the runtime SQL settings take effect. */
  def local(cpus: Int, overrides: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = overrides.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops what a query left cached or persisted (GraphX and checkpoint
    * RDDs included; nothing else unpersists them once its result is
    * read). Blocking on purpose: an asynchronous unpersist overlaps block
    * eviction with whatever runs next and charges that run the cleanup. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
