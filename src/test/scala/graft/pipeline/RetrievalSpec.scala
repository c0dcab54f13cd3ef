package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Retrieval.bm25TopK against a scalar BM25 with the same constants and
  * fold order, including absent query terms, non-matching docs, and
  * score-tie determinism. */
class RetrievalSpec extends AnyFunSuite with SharedSpark {

  private def scalarBm25(docs: Seq[(Long, String)], query: String,
                         k1: Double = 1.2, b: Double = 0.75): Map[Long, Double] = {
    val tokened = docs.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSeq }
    val withTerms = tokened.filter(_._2.nonEmpty)
    val n = withTerms.size.toDouble
    val avgdl = withTerms.map(_._2.size.toLong).sum.toDouble / withTerms.size
    val dfm = withTerms.flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val qts = query.split(" ").filter(_.nonEmpty).distinct.sorted
    withTerms.flatMap { case (id, ws) =>
      val tfm = ws.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val dl = ws.size.toLong
      val parts = qts.flatMap { t =>
        tfm.get(t).map { tf =>
          val idf = math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5))
          idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        }
      }
      if (parts.isEmpty) None
      else Some(id -> BigDecimal(parts.foldLeft(0.0)(_ + _))
        .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
    }.toMap
  }

  test("bm25TopK matches the scalar reference, ranks deterministically") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (1L to 80L).map { id =>
      (id, Seq.fill(4 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val queries = Seq((1, "alpha gamma"), (2, "zeta unknownterm"), (3, "beta"))
    val got = Retrieval.bm25TopK(docs.toDF("doc_id", "text"),
        queries.toDF("query_id", "query_text"), "doc_id", "text", k = 5)
      .collect()
      .map(r => (r.getInt(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2)))
      .toMap

    queries.foreach { case (qid, qtext) =>
      val want = scalarBm25(docs, qtext).toSeq
        .sortBy { case (id, s) => (-s, id) }.take(5)
      want.zipWithIndex.foreach { case ((id, s), i) =>
        val (gid, gs) = got((qid, i + 1))
        assert(gid == id && math.abs(gs - s) < 2e-6,
          s"query $qid rank ${i + 1}: got ($gid, $gs), want ($id, $s)")
      }
    }
    // the unknown term contributes nothing but the query still ranks by zeta
    assert((1 to 5).forall(r => got.contains((2, r))))
  }

  test("tfidfKeywords matches a scalar tf-idf and prefers rare terms over common ones") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = Vector("common", "shared", "alpha", "beta", "gamma", "delta", "rare")
    val docs = (1L to 60L).map { id =>
      // 'common' in every doc; the rest sampled
      val ws = "common" +: Seq.fill(3 + rnd.nextInt(12))(vocab(1 + rnd.nextInt(vocab.size - 1)))
      (id, ws.mkString(" "))
    }
    val k = 3
    val got = Retrieval.tfidfKeywords(docs.toDF("doc_id", "text"), "doc_id", "text", k)
      .collect()
      .map(r => (r.getLong(0), r.getInt(4)) -> (r.getString(1), r.getLong(2), r.getDouble(3)))
      .toMap

    // scalar reference with the same smoothing
    val tokened = docs.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSeq }
    val n = tokened.count(_._2.nonEmpty).toDouble
    val dfm = tokened.flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    tokened.foreach { case (id, ws) =>
      val want = ws.groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .map { case (t, tf) =>
          (t, tf, BigDecimal(tf * (math.log((n + 1.0) / (dfm(t) + 1.0)) + 1.0))
            .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
        }
        .sortBy { case (t, _, s) => (-s, t) }.take(k)
      want.zipWithIndex.foreach { case ((t, tf, s), i) =>
        val (gt, gtf, gs) = got((id, i + 1))
        assert(gt == t && gtf == tf && math.abs(gs - s) < 2e-6,
          s"doc $id rank ${i + 1}: got ($gt,$gtf,$gs), want ($t,$tf,$s)")
      }
    }
    // the everywhere-term never outranks an equally-frequent rarer term:
    // its idf is the corpus floor ln((N+1)/(N+1)) + 1 = 1
    val commonScores = got.collect { case ((_, _), ("common", tf, s)) => s / tf }
    assert(commonScores.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("rrfFuse matches scalar reciprocal-rank fusion; single-system docs score one term") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // overlapping but disagreeing rankings: docs 1-6 lexical, 4-9 dense
    val lex = Seq((1L, 1L, 1), (1L, 2L, 2), (1L, 3L, 3), (1L, 4L, 4),
      (1L, 5L, 5), (1L, 6L, 6),
      (2L, 10L, 1), (2L, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val dense = Seq((1L, 6L, 1), (1L, 5L, 2), (1L, 4L, 3), (1L, 7L, 4),
      (1L, 8L, 5), (1L, 9L, 6),
      (2L, 11L, 1), (2L, 12L, 2)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(lex, dense, k = 5)
      .select("query_id", "doc_id", "rrf", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap

    def term(r: Option[Int]) = r.map(x => 1.0 / (60 + x)).getOrElse(0.0)
    val lexM = Map((1L, 1L) -> 1, (1L, 2L) -> 2, (1L, 3L) -> 3, (1L, 4L) -> 4,
      (1L, 5L) -> 5, (1L, 6L) -> 6, (2L, 10L) -> 1, (2L, 11L) -> 2)
    val denseM = Map((1L, 6L) -> 1, (1L, 5L) -> 2, (1L, 4L) -> 3, (1L, 7L) -> 4,
      (1L, 8L) -> 5, (1L, 9L) -> 6, (2L, 11L) -> 1, (2L, 12L) -> 2)
    val want = (lexM.keySet ++ denseM.keySet).toSeq.map { k =>
      val s = BigDecimal(term(lexM.get(k)) + term(denseM.get(k)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      (k._1, k._2, s)
    }.groupBy(_._1).flatMap { case (q, xs) =>
      xs.sortBy(t => (-t._3, t._2)).take(5).zipWithIndex.map {
        case ((_, d, s), i) => (q, i + 1) -> (d, s)
      }
    }
    assert(got == want)

    // both-system docs (4,5,6) must outrank every single-system doc for
    // query 1 -- the defining consensus property of RRF
    val top3 = (1 to 3).map(r => got((1L, r))._1).toSet
    assert(top3 == Set(4L, 5L, 6L), s"consensus docs not on top: $top3")
  }
}
