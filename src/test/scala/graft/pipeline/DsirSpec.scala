package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Dsir.topKByImportance against a scalar reimplementation (same hashes,
  * smoothing, fold order), plus the semantic contract: documents that
  * look like the target seed set rank above ones that don't. */
class DsirSpec extends AnyFunSuite with SharedSpark {

  private def scalarWeights(docs: Seq[(Long, String, Boolean)],
                            buckets: Int): Map[Long, Double] = {
    def feats(t: String) =
      Dsir.features(t.split(" ").filter(_.nonEmpty).toSeq, buckets)
    val tc = new Array[Long](buckets); val rc = new Array[Long](buckets)
    docs.foreach { case (_, t, target) =>
      feats(t).foreach { b => if (target) tc(b) += 1; rc(b) += 1 }
    }
    val nt = tc.sum.toDouble; val nr = rc.sum.toDouble; val half = buckets * 0.5
    val lw = Array.tabulate(buckets)(b =>
      math.log((tc(b) + 0.5) / (nt + half)) - math.log((rc(b) + 0.5) / (nr + half)))
    docs.map { case (id, t, _) =>
      id -> BigDecimal(feats(t).foldLeft(0.0)((a, b) => a + lw(b)))
        .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    }.toMap
  }

  test("features hash code points (astral text folds one value per character, like the SQL oracle)") {
    // U+1D49C (𝒜) is one code point but two UTF-16 units; the p39 oracle
    // slices DuckDB characters, so the Scala side must fold the code point
    val astral = "𝒜"
    val buckets = 1000000007 // identity modulus: feature == poly hash
    assert(Dsir.features(Seq(astral), buckets).head == 0x1D49C)
    // and a BMP word is unchanged vs the UTF-16 fold (shared convention)
    assert(Dsir.features(Seq("abc"), buckets).head ==
      (PortableHash.poly31("abc") % buckets).toInt)
  }

  test("weights match the scalar reference and targets dominate the top slice") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val targetVocab = Vector("science", "physics", "quantum", "theory", "atom")
    val noiseVocab = Vector("sale", "cheap", "click", "offer", "deal", "win")
    def doc(v: Vector[String]) =
      Seq.fill(8 + rnd.nextInt(10))(v(rnd.nextInt(v.size))).mkString(" ")
    val rows =
      (1L to 10L).map(id => (id, doc(targetVocab), true)) ++      // seed set
      (11L to 40L).map(id => (id, doc(targetVocab), false)) ++    // in-domain raw
      (41L to 100L).map(id => (id, doc(noiseVocab), false))       // off-domain raw
    val df = rows.toDF("doc_id", "text", "is_target")

    val got = Dsir.topKByImportance(df, "doc_id", "text",
        col("is_target"), k = 40, buckets = 256)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))

    // exact scalar parity on the reported weights
    val want = scalarWeights(rows, 256)
    got.foreach { case (id, w, _) =>
      assert(math.abs(w - want(id)) < 2e-6, s"doc $id: $w vs ${want(id)}")
    }
    // ranking = weights desc with id tie-break
    val expectOrder = want.toSeq.sortBy { case (id, w) => (-w, id) }.take(40).map(_._1)
    assert(got.sortBy(_._3).map(_._1).toSeq == expectOrder)
    // the selection contract: the top-40 is exactly the in-domain docs
    // (seeds + lookalikes), none of the off-domain ads
    assert(got.map(_._1).forall(_ <= 40L), got.map(_._1).sorted.mkString(","))
  }
}
