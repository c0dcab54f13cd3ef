package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Fellegi–Sunter scoring: u-probabilities against hand-counted value
  * histograms, the log-odds sum against a scalar replica, and the
  * decision property (full agreement scores positive, full disagreement
  * negative, on any non-degenerate corpus). */
class RecordLinkageSpec extends AnyFunSuite with SharedSpark {

  test("fellegiSunter: exact u estimation and scalar score parity") {
    import spark.implicits._
    // 6 records, two fields: city has values {x:3, y:2, z:1},
    // cat has {p:4, q:2}
    val df = Seq(
      (1L, "x", "p"), (2L, "x", "p"), (3L, "x", "q"),
      (4L, "y", "p"), (5L, "y", "q"), (6L, "z", "p"))
      .toDF("id", "city", "cat")
    val pairs = Seq((1L, 2L), (1L, 3L), (3L, 5L), (5L, 6L))
      .toDF("a_id", "b_id")
    val out = RecordLinkage.fellegiSunter(df, "id", Seq("city", "cat"),
        pairs, m = 0.95)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(2), r.getDouble(3), r.getBoolean(4)))).toMap

    // u_city = (9+4+1-6)/(36-6) = 8/30; u_cat = (16+4-6)/30 = 14/30
    val n = 6.0
    val uCity = (14.0 - n) / (n * n - n)
    val uCat = (20.0 - n) / (n * n - n)
    def w(u: Double, agree: Boolean) =
      if (agree) math.log(0.95 / u) else math.log((1 - 0.95) / (1 - u))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    // (1,2): agree on both → strongly positive
    assert(out((1L, 2L)) ==
      ((2, r6(w(uCity, true) + w(uCat, true)), true)))
    // (1,3): city agrees, cat disagrees
    assert(out((1L, 3L)) ==
      ((1, r6(w(uCity, true) + w(uCat, false)),
        w(uCity, true) + w(uCat, false) > 0)))
    // (5,6): disagree on both → strongly negative
    val (na, sc, im) = out((5L, 6L))
    assert(na == 0 && sc < 0 && !im)
  }
}
