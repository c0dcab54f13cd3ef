package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Local-checkpoint bookkeeping. `localCheckpoint` pins its RDD in the
  * block manager, and `spark.catalog.clearCache()` does not release it —
  * only that RDD's own `unpersist` does. A checkpointed Dataset's analyzed
  * plan reads it through a `LogicalRDD` leaf, so walking the plan finds
  * exactly the checkpoints a frame depends on: an operator frees what it
  * created, never a concurrent job's blocks (a blanket
  * `getPersistentRDDs` diff would). */
object Checkpoints {

  /** The persisted RDDs behind every checkpoint `df`'s plan reads. */
  def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Unpersist every checkpoint `df` reads. */
  def free(df: DataFrame): Unit = rdds(df).foreach(_.unpersist(blocking = false))
}
