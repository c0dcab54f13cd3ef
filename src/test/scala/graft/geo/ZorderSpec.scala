package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Z-order layout key: interleave correctness against a scalar
  * reimplementation, bijectivity over the tile grid, and the prefix
  * property that makes it a useful file-clustering key (an aligned
  * 2^k × 2^k tile box shares one zkey prefix, so its rows land in a
  * contiguous key range → contiguous files after a range write). */
class ZorderSpec extends AnyFunSuite with SharedSpark {

  // keep FileSourceScanExec findable in the executed plan
  override protected def sparkConf = Seq("spark.sql.adaptive.enabled" -> "false")

  private def scalarZ(x: Long, y: Long, bits: Int): Long =
    (0 until bits).map { b =>
      (((x >> b) & 1L) << (2 * b + 1)) | (((y >> b) & 1L) << (2 * b))
    }.reduce(_ | _)

  test("zorderKey: matches scalar interleave, bijective, prefix-clusters aligned boxes") {
    import spark.implicits._
    val pts = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)).toDF("x", "y")
    val out = pts.select(col("x"), col("y"),
        GeoFunctions.zorderKey(col("x"), col("y"), 6).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    out.foreach { case (x, y, z) => assert(z == scalarZ(x, y, 6), s"($x,$y)") }
    // bijective over the full 6-bit grid: 4096 distinct keys covering 0..4095
    val keys = out.map(_._3)
    assert(keys.distinct.length == 64 * 64)
    assert(keys.min == 0L && keys.max == 64L * 64 - 1)

    // prefix property: every aligned 8x8 box (drop 3 low bits of x and
    // y) maps to one value of z >> 6 — the box IS a contiguous key range
    out.groupBy { case (x, y, _) => (x >> 3, y >> 3) }.foreach {
      case (_, rows) =>
        assert(rows.map(_._3 >> 6).distinct.length == 1)
    }
  }

  test("z-order file layout: a bbox query reads strictly fewer files than the unsorted layout") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zorder_prune").toString
    try {
      // 64×64 tile grid; z bucket = zkey >> 6 = interleave(x>>3, y>>3):
      // 64 buckets, each an aligned 8×8 tile box (the g15 write-time
      // layout, bucket-as-partition-directory)
      val pts = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)).toDF("x", "y")
      pts.withColumn("bucket",
          shiftright(GeoFunctions.zorderKey(col("x"), col("y"), 6), 6))
        .write.partitionBy("bucket").parquet(s"$dir/z")
      // contrast layout: same 64 directories, rows scattered by an
      // unrelated hash — spatial locality destroyed
      pts.withColumn("bucket", pmod(col("x") * 31 + col("y"), lit(64)))
        .write.partitionBy("bucket").parquet(s"$dir/rand")

      def filesRead(df0: org.apache.spark.sql.DataFrame): (Long, Seq[(Long, Long)]) = {
        val df = df0.select("x", "y") // metrics must come from the SAME execution
        val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        val files = df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numFiles").value
        }.sum
        (files, rows)
      }
      val bbox = (c: org.apache.spark.sql.DataFrame) =>
        c.where(col("x").between(8, 15) && col("y").between(16, 23))

      // the z layout's point: the bucket set covering the bbox derives
      // from the PREDICATE alone (prefix property — here one aligned box)
      val boxBuckets = Seq(scalarZ(8 >> 3, 16 >> 3, 3))
      val (zFiles, zRows) = filesRead(
        bbox(spark.read.parquet(s"$dir/z")).where(col("bucket").isin(boxBuckets: _*)))
      // no such derivation exists for the scattered layout: full listing
      val (rFiles, rRows) = filesRead(bbox(spark.read.parquet(s"$dir/rand")))

      assert(zRows == rRows && zRows.size == 64, "both layouts return the same bbox rows")
      assert(zFiles < rFiles, s"z layout read $zFiles files, unsorted read $rFiles")
      // and not marginally fewer: one directory of 64, vs all of them
      assert(zFiles <= rFiles / 16, s"z=$zFiles rand=$rFiles")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
