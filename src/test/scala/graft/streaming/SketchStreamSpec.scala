package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.pipeline.Sketches
import graft.SharedSpark

/** The incremental CMS materialized view equals a batch sketch over the
  * concatenated log (mergeability doing streaming work), estimates stay
  * exact for a collision-free width, and state size stays bounded. */
class SketchStreamSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 2

  test("incremental sketch equals the batch sketch over the full log") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("cms-mv").toFile
    val stateDir = new java.io.File(tmp, "state").getAbsolutePath
    val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
    val rnd = new scala.util.Random(31)
    val batches = Seq.fill(3)(Seq.fill(800)(s"w${rnd.nextInt(60)}"))

    val mem = MemoryStream[String]
    val q = SketchStream.countMinStream(mem.toDF().toDF("item"), "item",
      stateDir, ckpt, depth = 4, width = 64)
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val mv = spark.read.parquet(stateDir)
    // bounded state: at most depth·width counter rows, whatever streamed
    assert(mv.count() <= 4 * 64)
    val got = mv.select("j", "bucket", "cnt").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = Sketches.countMin(batches.flatten.toDF("item"), "item", 4, 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)

    // estimates from the MV: admissible everywhere, exact at width 64
    // only where no collision — so check against the batch CMS, which
    // the equality above already ties to the merged state
    val exact = batches.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val est = SketchStream.estimate(spark, stateDir,
        exact.keys.toSeq.toDF("item"), "item", depth = 4, width = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (it, c) => assert(est(it) >= c, s"$it underestimated") }
  }
}
