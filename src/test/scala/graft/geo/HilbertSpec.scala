package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Hilbert layout key: parity with the scalar xy→d recurrence, the
  * bijection over a full grid, and the defining locality property —
  * consecutive keys are EDGE-ADJACENT cells (Z-order fails this at every
  * power-of-two boundary, which is exactly why Hilbert runs are shorter
  * for bbox scans). */
class HilbertSpec extends AnyFunSuite with SharedSpark {

  /** Scalar reference: the public rotate-and-accumulate recurrence. */
  private def xy2d(bits: Int, x0: Long, y0: Long): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var k = bits - 1
    while (k >= 0) {
      val s = 1L << k
      val rx = (x >> k) & 1L
      val ry = (y >> k) & 1L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      k -= 1
    }
    d
  }

  test("hilbertKey: scalar parity, bijection, and consecutive-key adjacency on the 16x16 grid") {
    import spark.implicits._
    val bits = 4
    val grid = for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong)
    val out = grid.toDF("x", "y")
      .withColumn("d", GeoFunctions.hilbertKey(col("x"), col("y"), bits))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap

    // exact scalar parity on every cell
    grid.foreach { case (x, y) =>
      assert(out((x, y)) == xy2d(bits, x, y), s"cell ($x,$y)")
    }
    // bijection: 256 cells → the 256 distinct keys 0..255
    assert(out.values.toSet == (0L until 256L).toSet)
    // Hilbert property: walking d = 0,1,2,… steps one edge at a time
    val byD = out.map(_.swap)
    (0L until 255L).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"d=$d: ($x1,$y1) -> ($x2,$y2) not edge-adjacent")
    }
    // …which Z-order does NOT satisfy (sanity that the property is
    // discriminating, not vacuous): morton 3 -> 4 jumps diagonally
    val z = grid.toDF("x", "y")
      .withColumn("d", GeoFunctions.zorderKey(col("x"), col("y"), bits))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1)))).toMap
    val breaks = (0L until 255L).count { d =>
      val (x1, y1) = z(d); val (x2, y2) = z(d + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(breaks > 0)
  }
}
