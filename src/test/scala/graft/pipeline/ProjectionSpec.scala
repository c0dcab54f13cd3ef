package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Projection.project against a scalar reimplementation (same implicit
  * sign matrix, fixed-point fold), the JL distance-preservation sanity
  * property, and the power-of-four dimension guard. */
class ProjectionSpec extends AnyFunSuite with SharedSpark {

  private def scalarProject(v: Seq[Float], outDims: Int): Seq[Double] =
    (0 until outDims).map { j =>
      val s = v.indices.foldLeft(0L) { (acc, i) =>
        acc + PortableHash.quantize(v(i)) * Projection.signComponent(j, i)
      }
      BigDecimal(s.toDouble / 1048576.0 / math.sqrt(outDims.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

  test("matches the scalar reference component-for-component") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (1L to 40L).map(id =>
      (id, Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    val got = Projection.project(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", outDims = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    vecs.foreach { case (id, v) =>
      val want = scalarProject(v, 16)
      (0 until 16).foreach { j =>
        assert(got((id, j)) == want(j), s"vec $id dim $j")
      }
    }
  }

  test("JL sanity: pairwise distances survive within a loose band") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vecs = (1L to 30L).map(id =>
      (id, Seq.fill(256)((rnd.nextDouble() * 2 - 1).toFloat)))
    val proj = Projection.project(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", outDims = 64)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getDouble(2))).toMap
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      i <- 1L to 30L; j <- (i + 1) to 30L
    } yield {
      val orig = d2(vecs(i.toInt - 1)._2.map(_.toDouble),
        vecs(j.toInt - 1)._2.map(_.toDouble))
      d2(proj(i).toSeq, proj(j).toSeq) / orig
    }
    // sign projections at k=64 concentrate around 1; the band is loose
    // because this is a sanity property, not a tail bound
    assert(ratios.forall(r => r > 0.5 && r < 1.6),
      s"worst ratios: ${ratios.min}, ${ratios.max}")
  }

  test("gramMatrix matches the scalar fixed-point Gram, diagonal non-negative") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vecs = (1L to 50L).map(id =>
      (id, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
    val got = Projection.gramMatrix(vecs.toDF("vec_id", "embedding"), "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 8 * 9 / 2, "upper triangle only")
    val want = (for (i <- 0 until 8; j <- i until 8) yield {
      val s = vecs.map { case (_, v) =>
        PortableHash.quantize(v(i)) * PortableHash.quantize(v(j))
      }.sum
      (i, j) -> BigDecimal(s.toDouble / 1099511627776.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }).toMap
    assert(got == want)
    (0 until 8).foreach(i => assert(got((i, i)) >= 0.0, s"diag $i"))
  }

  test("non-power-of-four output dimension is rejected (inexact sqrt scaling)") {
    import spark.implicits._
    val df = Seq((1L, Seq(1f, 2f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Projection.project(df, "vec_id", "embedding", outDims = 8)
    }
  }
}
