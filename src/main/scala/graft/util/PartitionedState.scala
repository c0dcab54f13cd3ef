package graft.util

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Reads of the partitioned parquet state tables the streaming
  * operators keep (tile/bucket state, dedup indexes). */
object PartitionedState {

  /** The rows of `dir` whose `partCol` is one of `values`, read with the
    * given `schema` (no footer-reading inference, so a directory holding
    * no data files yet reads as empty instead of failing inference).
    *
    * A table that does not exist yet is empty state. Any other read
    * failure — a corrupt or unreadable file — propagates and fails the
    * batch: reading lost state as empty would silently reset it. */
  def readPruned(spark: SparkSession, dir: String, schema: StructType,
                 partCol: String, values: Seq[Any]): DataFrame =
    try spark.read.schema(schema).parquet(dir).where(col(partCol).isin(values: _*))
    catch { case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    }
}
