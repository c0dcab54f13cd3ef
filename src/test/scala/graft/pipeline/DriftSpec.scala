package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Drift.tokenDrift against a scalar reimplementation (same smoothing,
  * exact integer selection order) plus the structural properties: a token
  * present only in one side drifts, a balanced token does not top the
  * list, and the exact-integer ordering matches the float ordering. */
class DriftSpec extends AnyFunSuite with SharedSpark {

  private def scalarDrift(a: Seq[String], b: Seq[String], k: Int)
      : Seq[(String, Long, Long, BigInt)] = {
    def counts(docs: Seq[String]) =
      docs.flatMap(_.split(" ").filter(_.nonEmpty))
        .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val (ca, cb) = (counts(a), counts(b))
    val vocab = (ca.keySet ++ cb.keySet).toSeq
    val (na, nb, v) = (ca.values.sum, cb.values.sum, vocab.size.toLong)
    vocab.map { w =>
      val (x, y) = (ca.getOrElse(w, 0L), cb.getOrElse(w, 0L))
      (w, x, y, BigInt(x + 1) * (nb + v) - BigInt(y + 1) * (na + v))
    }.sortBy { case (w, _, _, dn) => (-dn.abs, w) }.take(k)
  }

  test("matches the scalar reference: selection, order keys, counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val dict = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    def doc() = Seq.fill(8 + rnd.nextInt(10))(dict(rnd.nextInt(dict.size))).mkString(" ")
    val a = Seq.fill(40)(doc()) :+ "onlyina onlyina onlyina onlyina onlyina"
    val b = Seq.fill(40)(doc())
    val got = Drift.tokenDrift(a.toDF("text"), b.toDF("text"), "text", 6)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        BigInt(r.getDecimal(3).toBigInteger)))
    val want = scalarDrift(a, b, 6)
    assert(got.toSeq == want, s"got=${got.toSeq}\nwant=$want")
    assert(got.exists(_._1 == "onlyina"), "one-sided token must drift")
  }

  test("probabilities are smoothed and KL sign follows the diff") {
    import spark.implicits._
    val a = Seq("x x x x y").toDF("text")
    val b = Seq("y y y y z").toDF("text")
    val rows = Drift.tokenDrift(a, b, "text", 10).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(4), r.getDouble(5), r.getDouble(7))).toMap
    // 'x': ca=4, cb=0 -> pa=(5)/(5+3)=0.625, pb=1/8=0.125
    assert(rows("x")._1 == 0.625 && rows("x")._2 == 0.125)
    assert(rows("x")._3 > 0, "over-represented token has positive KL term")
    assert(rows("z")._3 < 0, "under-represented token has negative KL term")
  }
}
