package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Adversarial density for the radius join: every point on ONE latitude
  * line (the shape of a coastal metro strip or a gridded raster row). The
  * old (20° cell, lat band) key put all of them into a handful of keys —
  * candidate pairs quadratic in the strip population. The GeoBands key
  * must (1) stay exact and (2) spread the strip across radius-sized lon
  * bands so per-key populations stay near-constant.
  */
class GeoJoinsSkewSpec extends AnyFunSuite with SharedSpark {

  private val RadiusM = 150.0
  // 3,000 points on lat = 40.0 exactly: 1,000 cluster sites spread over
  // 10° of longitude (pitch ~853 m > radius), 3 points per site a few
  // meters apart — so pairs exist within sites and never across them
  private val pts: Seq[(Long, Double, Double)] =
    (0L until 3000L).map { i =>
      (i, 40.0, -5.0 + (i / 3) * (10.0 / 1000.0) + (i % 3) * 3e-5)
    }

  test("co-latitude strip: exact pairs, bounded per-key population") {
    import spark.implicits._
    val df = pts.toDF("k", "lat", "lon")
    val got = GeoJoins.pairsWithin(df, "k", "lat", "lon", RadiusM)
      .select("a_key", "b_key").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for {
      (ka, la, loa) <- pts; (kb, lb, lob) <- pts
      if ka < kb && GeoFunctions.haversineMScalar(la, loa, lb, lob) < RadiusM
    } yield (ka, kb)).toSet
    assert(expect.nonEmpty, "fixture produced no in-radius pairs")
    assert(got === expect)

    // skew bound: build-side key populations must stay near-constant.
    // 10° of lon at lat 40 is ~853 km, so a 150 m-wide band holds ~1-2 of
    // the 3,000 evenly-pitched points; assert a generous ceiling far below
    // the single-key pile-up the old scheme produced (3,000 in one key).
    val perKey = pts.groupBy(p => GeoBands.buildKey(p._2, p._3, RadiusM))
      .map(_._2.size)
    assert(perKey.max <= 8, s"max per-key population ${perKey.max}")
    assert(perKey.size > 500, s"strip landed in only ${perKey.size} keys")
  }
}
