package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Fixed-point logistic regression contracts: (1) the distributed GD
  * loop matches a plain sequential scalar replay bit-for-bit — the
  * determinism the unrolled-CTE oracle depends on; (2) a linearly
  * separable fixture trains to perfect accuracy — the model actually
  * LEARNS, it is not just reproducible. */
class LogisticSpec extends AnyFunSuite with SharedSpark {

  private val S = Logistic.Scale

  /** Sequential scalar replay of the exact training recurrence. */
  private def scalarWeights(docs: Seq[(String, Long)], nBuckets: Int,
                            rounds: Int, lrMul: Long): Array[Long] = {
    val xs = docs.map { case (text, y) =>
      val x = new Array[Long](nBuckets + 1)
      text.split(" ").filter(_.nonEmpty)
        .foreach(w => x((PortableHash.poly31Cp(w) % nBuckets).toInt) += 1L)
      x(nBuckets) = 1L
      (x, y)
    }
    val lrDen = lrMul * docs.length
    var w = Array.fill(nBuckets + 1)(0L)
    for (_ <- 0 until rounds) {
      val g = new Array[Long](nBuckets + 1)
      xs.foreach { case (x, y) =>
        var z = 0L
        var j = 0
        while (j < x.length) { z += x(j) * w(j); j += 1 }
        val p = math.min(math.max(z + 2 * S, 0L), 4 * S) >> 2
        val err = p - S * y
        j = 0
        while (j < x.length) { g(j) += x(j) * err; j += 1 }
      }
      w = w.indices.map(j => w(j) - g(j) / lrDen).toArray
    }
    w
  }

  test("distributed training equals the sequential scalar replay") {
    import spark.implicits._
    // mixed corpus, deliberately NOT separable, with repeated words so
    // counts exceed 1 and the truncation paths both fire
    val docs = (1L to 40L).map { i =>
      val ws = (0 until (3 + (i % 5)).toInt)
        .map(k => Seq("alpha", "omega", "spark", "flink")((k + i.toInt) % 4))
      (ws.mkString(" "), i % 3 min 1)
    }
    val df = docs.zipWithIndex
      .map { case ((t, y), i) => (i.toLong, t, y) }
      .toDF("doc_id", "text", "y01")
    val got = Logistic.trainWeights(df, "doc_id", "text", "y01",
      nBuckets = 8, rounds = 3, lrMul = 16L)
    val want = scalarWeights(docs, nBuckets = 8, rounds = 3, lrMul = 16L)
    assert(got.toSeq == want.toSeq,
      s"weights diverged: got ${got.toSeq}, want ${want.toSeq}")
  }

  test("a separable fixture trains to perfect accuracy") {
    import spark.implicits._
    // 'alpha' hashes to bucket 6, 'omega' to bucket 1 (asserted below):
    // label 1 docs are alpha-runs, label 0 docs omega-runs — linearly
    // separable in the hashed feature space
    assert(PortableHash.poly31Cp("alpha") % 8 !=
      PortableHash.poly31Cp("omega") % 8)
    val df = (1L to 30L).map { i =>
      val y = (i % 2).toInt
      val word = if (y == 1) "alpha" else "omega"
      (i, Seq.fill(3 + (i % 4).toInt)(word).mkString(" "), y)
    }.toDF("doc_id", "text", "y01")
    val out = Logistic.trainPredict(df, "doc_id", "text", "y01",
        nBuckets = 8, rounds = 3, lrMul = 16L)
      .collect()
    assert(out.length == 30)
    assert(out.forall(_.getBoolean(4)),
      "every prediction must be correct on the separable fixture")
    // scores actually separate (not all stuck at the 0.5 boundary)
    val pos = out.filter(_.getInt(1) == 1).map(_.getLong(2))
    val neg = out.filter(_.getInt(1) == 0).map(_.getLong(2))
    assert(pos.min > S / 2 && neg.max < S / 2,
      s"scores failed to separate: pos.min=${pos.min} neg.max=${neg.max}")
  }
}
