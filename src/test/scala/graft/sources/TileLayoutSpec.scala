package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** A7 at scale: the reference's tile index becomes PHYSICAL LAYOUT —
  * `partitionBy("tileid")` parquet, so a tile query is partition pruning,
  * not an index probe (SURVEY §1.4/§4). This spec pins the two properties
  * that make it work at 100 TB: (1) a tileid predicate prunes the file
  * listing to the matching directory, (2) results are identical to the
  * unpartitioned scan. */
class TileLayoutSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 2

  test("partitionBy(tileid) layout: pruned reads, identical results") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tilelayout").toFile
    val out = new java.io.File(dir, "places").getAbsolutePath

    val places = (1L to 400L).map { k =>
      (k, graft.geo.Olc.encode((k % 17).toDouble * 5 - 40, (k % 7).toDouble * 30 - 90, 6),
        s"Place $k")
    }.toDF("key", "tileid", "name")
    // layout: tile directory per 4-char prefix (the summary-rollup key) —
    // one dir per leaf 6-char tile would create tiny partitions at scale
    places.withColumn("tile4", substring($"tileid", 1, 4))
      .write.partitionBy("tile4").mode("overwrite").parquet(out)

    val all = spark.read.parquet(out)
    val someTile = places.select(substring($"tileid", 1, 4)).head.getString(0)
    val pruned = all.where($"tile4" === someTile)

    // (1) the executed scan's file listing only touches the matching dir
    val files = pruned.select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains(s"tile4=$someTile")))
    // (2) value parity with the logical filter over the full set
    val expect = places.where(substring($"tileid", 1, 4) === someTile)
      .select($"key").as[Long].collect().sorted
    val got = pruned.select($"key").as[Long].collect().sorted
    assert(got.sameElements(expect))
  }
}
