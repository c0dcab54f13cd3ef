package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

class PolyAndCentroidSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 2

  test(".poly parser: brazil region contains Brasília, not Lima or Paris") {
    val region = PolyFile.parseFile(
      "/root/reference/openplacereviews-core/src/main/resources/public/regions/south-america/brazil.poly")
    assert(region.rings.nonEmpty)
    assert(region.rings.exists(!_.hole))
    assert(region.contains(-15.79, -47.88), "Brasília must be inside")
    assert(!region.contains(-12.05, -77.04), "Lima must be outside")
    assert(!region.contains(48.85, 2.35), "Paris must be outside")
  }

  test("weighted-centroid Aggregator matches the scalar computation per group") {
    import spark.implicits._
    val rows = Seq(
      (1L, 10.0, 20.0, 1.0), (1L, 20.0, 40.0, 3.0),
      (2L, -5.0, 0.0, 2.0), (2L, 5.0, 10.0, 2.0),
      (3L, 1.0, 1.0, 0.0)) // zero total weight → NaN
    val ds = rows.toDS().map { case (g, lat, lon, w) => (g, (lat, lon, w)) }
    val out = ds.groupByKey(_._1).mapValues(_._2)
      .agg(WeightedCentroid.toColumn.name("centroid"))
      .collect().toMap
    assert(math.abs(out(1L)._1 - 17.5) < 1e-12) // (10*1+20*3)/4
    assert(math.abs(out(1L)._2 - 35.0) < 1e-12)
    assert(out(2L) == (0.0, 5.0))
    assert(out(3L)._1.isNaN)
  }
}
