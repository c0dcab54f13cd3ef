package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Gopher and C4 rule filters: every branch of both keep flags flipped by
  * an engineered fixture, plus the map-only plan shape. */
class QualityRulesSpec extends AnyFunSuite with SharedSpark {

  test("gopherRules: each rule rejects independently; integer boundaries are exact") {
    import spark.implicits._
    val good = (1 to 20).map(i => s"word$i").mkString(" ") +
      " the of and that" // 24 words, alphabetic, 4 stopword hits
    val docs = Seq(
      (1L, good),                                       // passes everything
      (2L, "too few the of"),                           // < minWords
      (3L, (1 to 30).map(_ => "ab").mkString(" ") + " the of"), // mean len 2 < 3
      (4L, (1 to 30).map(_ => "abcdefghijklmnop").mkString(" ") + " the of"), // mean len > 10
      (5L, (1 to 30).map(_ => "12345").mkString(" ") + " the of"), // alpha frac < 80%
      (6L, (1 to 30).map(i => s"word$i").mkString(" ")) // no stopwords
    ).toDF("doc_id", "text")
    val out = QualityRules.gopherRules(docs, "doc_id", "text", minWords = 10)
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
      5L -> false, 6L -> false), out.toString)

    // exact integer boundary: mean word length exactly 3.0 passes
    // (sum_word_len == 3 * n_words), 10 words of length 3 incl. stopwords
    val boundary = Seq((7L, Seq.fill(8)("abc").mkString(" ") + " the and"))
      .toDF("doc_id", "text")
    val b = QualityRules.gopherRules(boundary, "doc_id", "text", minWords = 10)
      .collect().head
    assert(b.getLong(b.fieldIndex("sum_word_len")) == 3L * b.getInt(b.fieldIndex("n_words")))
    assert(b.getBoolean(b.fieldIndex("keep")))

    // map-only: no Exchange in the plan
    val plan = QualityRules.gopherRules(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("c4Rules: each rule rejects independently") {
    import spark.implicits._
    val docs = Seq(
      (1L, "One sentence here. Another one! A third one?"), // passes
      (2L, "No terminal punctuation at all. Second. Third"), // not terminal
      (3L, "Only one sentence."),                            // < 3 sentences
      (4L, "Code block {x}. Two more. And three."),          // brace
      (5L, "Enable JavaScript to view. Two. Three."),        // boilerplate
      (6L, "Read our Privacy Policy. Two. Three.")           // boilerplate
    ).toDF("doc_id", "text")
    val out = QualityRules.c4Rules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
      5L -> false, 6L -> false), out.toString)
  }
}
