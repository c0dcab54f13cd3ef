package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Catalyst expressions execute through two independent paths — generated
  * Java (doGenCode) and the interpreted eval — and Spark switches between
  * them per-plan (codegen fallback, constant folding, Janino failures).
  * Each native expression must produce identical results on both, and
  * match its scalar reference implementation. */
class NativeExprSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 2

  private def run(codegen: Boolean): (Seq[String], Seq[Int], Seq[Double]) =
    withConf("spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")) {
      import spark.implicits._
      Native.register(spark)

      val pts = Seq((48.1503594, 17.1258664), (-33.8688, 151.2093),
        (0.0, 0.0), (89.9, -179.9)).toDF("lat", "lon")
      pts.createOrReplaceTempView("pts")
      val olc = spark.sql("SELECT olc_encode(lat, lon, 6) AS c FROM pts")
        .collect().map(_.getString(0)).toSeq

      val arrs = Seq(
        (Array(1L, 3L, 5L, 9L), Array(2L, 3L, 5L, 10L)),
        (Array.empty[Long], Array(1L)),
        (Array(7L), Array(7L))).toDF("a", "b")
      arrs.createOrReplaceTempView("arrs")
      val inter = spark.sql("SELECT sorted_intersect_size(a, b) AS n FROM arrs")
        .collect().map(_.getInt(0)).toSeq

      val vecs = Seq(
        (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
        (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
        (Array(1.0f, 1.0f, 0.0f), Array(1.0f, 0.0f, 0.0f))).toDF("a", "b")
      vecs.createOrReplaceTempView("vecs")
      val cos = spark.sql("SELECT cosine_sim(a, b) AS s FROM vecs")
        .collect().map(r => math.rint(r.getDouble(0) * 1e9) / 1e9).toSeq

      (olc, inter, cos)
    }

  test("olc_encode / sorted_intersect_size / cosine_sim: codegen == interpreted == scalar") {
    val withCodegen = run(codegen = true)
    val interpreted = run(codegen = false)
    assert(withCodegen == interpreted)

    val (olc, inter, cos) = withCodegen
    // scalar reference: the expression uses encodeWrapped — the lon
    // pre-wrap shares the oracle's ((x+180)%360+360)%360-180 float
    // arithmetic, which can differ from plain encode by one ulp at the
    // antimeridian (and so flip the last OLC digit — that parity is the
    // point)
    assert(olc == Seq(
      graft.geo.Olc.encodeWrapped(48.1503594, 17.1258664, 6),
      graft.geo.Olc.encodeWrapped(-33.8688, 151.2093, 6),
      graft.geo.Olc.encodeWrapped(0.0, 0.0, 6),
      graft.geo.Olc.encodeWrapped(89.9, -179.9, 6)))
    assert(olc.head == "8FWV54") // reference fixture ground truth
    assert(inter == Seq(2, 0, 1))
    assert(cos == Seq(0.0, 1.0, math.rint(1.0 / math.sqrt(2) * 1e9) / 1e9))
  }
}
