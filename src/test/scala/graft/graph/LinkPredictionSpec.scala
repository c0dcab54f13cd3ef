package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Adamic–Adar against hand math: fixed-point weights, the rare-neighbor
  * > hub ordering that motivates the measure, and the degree cut. */
class LinkPredictionSpec extends AnyFunSuite with SharedSpark {

  test("adamicAdar: hand weights, rare beats hub, hub cut drops pairs") {
    import spark.implicits._
    // z=100 (deg 2) → {1,2}; z=200 (deg 3) → {1,2,3};
    // z=300 (deg 2) → {3,4}; z=400 (deg 2) → {3,4}
    val edges = Seq(
      (100L, 1L), (100L, 2L),
      (200L, 1L), (200L, 2L), (200L, 3L),
      (300L, 3L), (300L, 4L),
      (400L, 3L), (400L, 4L))
      .toDF("src", "dst")
    def w(deg: Int) = math.floor(1048576.0 / math.log(deg.toDouble)).toLong
    def aa(ws: Long*) = BigDecimal(ws.sum.toDouble / 1048576.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    val out = LinkPrediction.adamicAdar(edges, "src", "dst",
        maxDeg = 64, minCommon = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // (1,2) share z=100 (deg2) and z=200 (deg3);
    // (3,4) share z=300, z=400 (both deg2)
    assert(out((1L, 2L)) == ((2L, aa(w(2), w(3)))))
    assert(out((3L, 4L)) == ((2L, aa(w(2), w(2)))))
    // two rare (deg-2) neighbors beat one rare + one deg-3
    assert(out((3L, 4L))._2 > out((1L, 2L))._2)
    assert(out.size == 2)

    // hub cut: maxDeg=2 drops z=200, so (1,2) falls to common=1 and
    // is filtered by minCommon=2; (3,4) survives unchanged
    val cut = LinkPrediction.adamicAdar(edges, "src", "dst",
        maxDeg = 2, minCommon = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cut == Set((3L, 4L)))
  }
}
