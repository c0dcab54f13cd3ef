package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** knBigramScore against a scalar Kneser–Ney reimplementation, plus the
  * model-level invariants: probabilities form a distribution per context,
  * and the continuation correction actually demotes context-locked words. */
class KneserNeySpec extends AnyFunSuite with SharedSpark {

  private val D = 0.75

  /** Scalar interpolated-KN over the same vocab/unk convention. Returns
    * (n_bigrams, Σ log p in position order) per doc. */
  private def scalar(docs: Seq[(Long, String)], topK: Int): Map[Long, (Int, Double)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSeq }
    val counts = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val vocab = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(topK).map(_._1).toSet
    val mapped = toks.map { case (id, ws) =>
      id -> ws.map(w => if (vocab(w)) w else "")
    }
    val bigrams = mapped.flatMap { case (id, ws) =>
      ws.zip(ws.drop(1)).map(p => (id, p))
    }
    val cb = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cu = bigrams.groupBy(_._2._1).view.mapValues(_.size.toLong).toMap
    val n1f = cb.keys.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1b = cb.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1t = cb.size.toLong
    def p(a: String, b: String): Double =
      math.max(cb((a, b)).toDouble - D, 0.0) / cu(a) +
        D * n1f(a) / cu(a) * (n1b(b).toDouble / n1t)
    mapped.map { case (id, ws) =>
      val bs = ws.zip(ws.drop(1))
      id -> (bs.size, bs.foldLeft(0.0)((acc, x) => acc + math.log(p(x._1, x._2))))
    }.toMap
  }

  test("matches the scalar KN fold exactly; unscored docs kept at zero") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vocab = Vector.tabulate(12)(i => s"w$i") ++ Vector("rare1", "rare2")
    val docs = (1L to 60L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } :+ (99L -> "solo") // single word → no bigrams
    val got = TextAnalysis.knBigramScore(docs.toDF("doc_id", "text"),
        "doc_id", "text", topK = 10)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    val want = scalar(docs, topK = 10)
    docs.foreach { case (id, _) =>
      val (n, lsum) = want.getOrElse(id, (0, 0.0))
      val (gn, glogp, gppl) = got(id)
      assert(gn == n, s"doc $id n_bigrams")
      if (n == 0) assert(glogp == 0.0 && gppl == 0.0, s"doc $id unscored")
      else {
        assert(math.abs(glogp - BigDecimal(lsum).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"doc $id logp")
        val ppl = math.exp(-lsum / n)
        assert(math.abs(gppl - ppl) < 5e-7 * math.max(1.0, ppl), s"doc $id ppl")
      }
    }
  }

  test("KN is a proper conditional distribution and demotes context-locked words") {
    // corpus where "francisco" is frequent but ONLY ever follows "san",
    // while "the" follows many contexts — the textbook KN motivation.
    // Model recovered via the scalar twin (same convention as the spec
    // above, which pins Spark to it).
    {
      val docs = Seq(
        (1L, "san francisco san francisco san francisco san francisco"),
        (2L, "the cat the dog the bird the fish"),
        (3L, "a the b the c the d the"))
      val bigrams = docs.flatMap { case (_, t) =>
        val ws = t.split(" ").toSeq; ws.zip(ws.drop(1))
      }
      val cb = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cu = bigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val n1f = cb.keys.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val n1b = cb.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val n1t = cb.size.toLong
      def p(a: String, b: String): Double =
        math.max(cb.getOrElse((a, b), 0L).toDouble - D, 0.0) / cu(a) +
          D * n1f(a) / cu(a) * (n1b.getOrElse(b, 0L).toDouble / n1t)
      // sums to 1 over the full continuation support for every context
      cu.keys.foreach { ctx =>
        // (.toSeq: Set.map would collapse equal probabilities before sum)
        val mass = n1b.keys.toSeq.map(w => p(ctx, w)).sum
        assert(math.abs(mass - 1.0) < 1e-9, s"context $ctx mass $mass")
      }
      // "francisco" is as frequent as "the"-ish but context-locked: its
      // continuation probability must be far below "the"'s
      assert(n1b(("francisco")) * 3 <= n1b(("the")),
        s"fixture broken: n1b=${n1b}")
      assert(p("a", "the") > p("a", "francisco") * 2,
        s"continuation smoothing failed: the=${p("a", "the")} francisco=${p("a", "francisco")}")
    }
  }
}
