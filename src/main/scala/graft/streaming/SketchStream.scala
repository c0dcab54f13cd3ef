package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.pipeline.Sketches

/** Incremental Count-Min sketch materialized view — the streaming form of
  * the x4 sketch family: each micro-batch builds its own bounded sketch
  * (ONE map-side-combinable aggregate, ≤ depth·width rows) and cell-wise
  * ADDS it into a persisted sketch table, the mergeability that
  * `SketchesSpec` pins doing streaming work. The state is depth·width
  * counters REGARDLESS of stream length — the canonical "count
  * everything forever in bounded space" shape — and point estimates
  * serve from the table alone, never touching the stream.
  *
  * Exactly-once: additive counters are NOT naturally idempotent under
  * micro-batch replay, so the applied batch id rides IN the state table
  * itself (a constant `last_batch` column on the same bounded relation)
  * — state and watermark move in ONE overwrite commit, and a replayed
  * batch sees `batchId <= max(last_batch)` and skips, so replays never
  * double-count. (The parquet overwrite itself is the committer's
  * delete-then-write, not atomic against a mid-write crash — a
  * production deployment puts a transactional table format under this
  * exact logic.) The whole table rewrites per batch, which is correct
  * here precisely because the sketch is bounded; contrast with
  * `EventStreams.applyOpsStream`, whose unbounded state demands
  * partition-targeted dynamic overwrite.
  */
object SketchStream {

  /** Maintain `stateDir` as the running (j, bucket, cnt, last_batch)
    * sketch of `items(itemCol)`. */
  def countMinStream(items: DataFrame, itemCol: String, stateDir: String,
                     checkpointDir: String, depth: Int = 4,
                     width: Int = 256) = {
    items.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // EXISTENCE decides whether there is prior state — never an
        // exception catch: a transient read failure mapped to "no state"
        // would silently reset the accumulated counters to this batch's
        // counts (and a catch of Throwable would swallow fatal errors);
        // a real read failure must crash the batch so the checkpoint
        // retries it.
        val path = new org.apache.hadoop.fs.Path(stateDir)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val existing =
          if (fs.exists(path)) Some(spark.read.parquet(stateDir)) else None
        // max() over a 0-row table is null — a state file can legally be
        // empty (all-null-item first batch), and getLong on it would
        // crash-loop the query on every restart
        val lastApplied = existing.map { st =>
          val m = st.agg(max("last_batch")).head()
          if (m.isNullAt(0)) -1L else m.getLong(0)
        }.getOrElse(-1L)
        if (batchId > lastApplied) {
          val batchSketch = Sketches.countMin(batch, itemCol, depth, width)
          val merged = (existing match {
            case Some(st) => st.select("j", "bucket", "cnt")
              .unionByName(batchSketch)
              .groupBy("j", "bucket").agg(sum("cnt").as("cnt"))
            case None => batchSketch
          }).withColumn("last_batch", lit(batchId))
            // materialize BEFORE the overwrite: the merge plan reads
            // stateDir and Spark refuses to overwrite a read path
            .localCheckpoint(true)
          merged.write.mode("overwrite").parquet(stateDir)
          // free THIS batch's checkpoint once written — an indefinitely
          // running stream would otherwise accumulate one persisted RDD
          // per micro-batch (the Bpe.train leak, streaming edition)
          graft.util.Checkpoints.free(merged)
        }
        ()
      }
      .start()
  }

  /** Point estimates for `probes(itemCol)` from the persisted sketch —
    * a pure read of the bounded state table. */
  def estimate(spark: SparkSession, stateDir: String, probes: DataFrame,
               itemCol: String, depth: Int = 4, width: Int = 256): DataFrame =
    Sketches.estimate(spark.read.parquet(stateDir).select("j", "bucket", "cnt"),
      probes, itemCol, depth, width)
}
