package graft.places

import org.scalatest.funsuite.AnyFunSuite

import graft.text.{SimilarityJoin, TextFunctions}
import graft.SharedSpark

/** The distributed checkNames pair generator must reproduce the driver-side
  * brute force exactly — including all-fuzzy pairs with no shared token
  * (the case naive shared-token blocking misses), differently-tokenized
  * nospace matches, and punctuation-only tokens. */
class SimilarityJoinSpec extends AnyFunSuite with SharedSpark {

  private val vocab: Seq[String] = Seq(
    "rose blue", "rosy blue", "rose", "rosy",          // fuzzy single word
    "cafee unicorn", "cafe unicorns",                  // every token fuzzy
    "ab c", "a bc", "abc",                             // nospace, retokenized
    "dim light", "light dim",                          // bag equality
    "chartreuse powder", "chartreuse powdered",
    "navajo peru", "navajo",                           // sub-collection one way
    "x", "y", "xy",                                    // tiny words, budget 1
    "goldenrod lavender spring chocolate lace",
    "goldenrod lavendar spring chocolate lace",        // one fuzzy of five
    "...", "a.b", "ab",                                // punctuation tokens
    "verylongwordindeed", "verylongwordindeec",        // budget 4 territory
    "Mixed Case", "mixed case",                        // clause-1 case fold
    "totally unrelated name")

  test("namePairs equals brute-force checkNames over the vocabulary") {
    import spark.implicits._
    val got = SimilarityJoin.namePairs(vocab.toDF("nm"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expect = (for {
      a <- vocab; b <- vocab
      if TextFunctions.checkNames(a, b)
    } yield (a, b)).toSet
    val missed = expect -- got
    val extra = got -- expect
    assert(missed.isEmpty, s"blocking dropped matching pairs: $missed")
    assert(extra.isEmpty, s"verify let non-matching pairs through: $extra")
  }

  test("word-pair segment blocking covers the adaptive-budget relation") {
    import spark.implicits._
    val words = vocab.flatMap(n => TextFunctions.tokenize(n.toLowerCase)).distinct
    val got = SimilarityJoin.similarWordPairs(words.toDF("w"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    for {
      u <- words; v <- words
      if u.length <= v.length &&
        TextFunctions.levenshteinWithin(u, v, TextFunctions.maxLevenshtein(u, v))
    } assert(got.contains((u, v)), s"missing word pair ($u, $v)")
  }
}
