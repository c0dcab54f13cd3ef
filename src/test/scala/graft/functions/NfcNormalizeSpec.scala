package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** The native nfc_normalize expression and the TextAnalysis.normalizeText
  * pipeline built on it: composed/decomposed convergence, control-char
  * scrubbing, space collapsing, and null passthrough. Unicode is spelled
  * as \u escapes so the fixtures can't be silently re-normalized by an
  * editor. */
class NfcNormalizeSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 2

  test("decomposed and composed renderings normalize to identical bytes") {
    import spark.implicits._
    Native.register(spark)
    val decomposed = "Cafe\u0301 du Monde" // e + combining acute U+0301
    val composed = "Caf\u00e9 du Monde"    // precomposed e-acute U+00E9
    assert(decomposed != composed, "fixtures must differ byte-wise")
    val rows = Seq((1L, decomposed), (2L, composed), (3L, null))
      .toDF("id", "t")
      .select(col("id"), call_function("nfc_normalize", col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L).get == composed)
    assert(rows(3L).isEmpty, "null passes through")
  }

  test("normalizeText scrubs controls, collapses spaces, trims, lowercases") {
    import spark.implicits._
    Native.register(spark)
    val raw = "  Hello\tWorld  FOO\u0301  " // O + combining acute
    val got = Seq((1L, raw)).toDF("id", "t")
      .select(graft.pipeline.TextAnalysis.normalizeText(col("t")).as("n"))
      .head().getString(0)
    assert(got == "hello world fo\u00f3")
    // byte-different but semantically-equal docs now hash identically —
    // the dedup-facing contract
    val a = "Cafe\u0301  PLACE"
    val b = " caf\u00e9 place"
    val hs = Seq((1L, a), (2L, b)).toDF("id", "t")
      .select(md5(graft.pipeline.TextAnalysis.normalizeText(col("t"))).as("h"))
      .collect().map(_.getString(0))
    assert(hs(0) == hs(1))
  }
}
