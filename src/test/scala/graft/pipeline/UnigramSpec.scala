package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Unigram.train against a single-threaded scalar EM (same seed rule,
  * same integer centi-nat scores, same Viterbi tie-break), plus hand
  * cases for the Viterbi itself and the prune semantics. */
class UnigramSpec extends AnyFunSuite with SharedSpark {

  test("viterbi picks the cheapest segmentation; ties break on fewer tokens") {
    val nll = Map("a" -> 300, "b" -> 300, "ab" -> 500, "abc" -> 700, "c" -> 300)
    // ab+c = 800 beats a+b+c = 900 and abc = 700 wins over both
    assert(Unigram.viterbi("abc", nll, maxTokLen = 4) == Seq("abc"))
    // without abc: ab+c = 800 < a+b+c = 900
    assert(Unigram.viterbi("abc", nll - "abc", 4) == Seq("ab", "c"))
    // equal cost (ab = a+b = 600): fewer tokens wins
    val tie = Map("a" -> 300, "b" -> 300, "ab" -> 600)
    assert(Unigram.viterbi("ab", tie, 4) == Seq("ab"))
  }

  /** Scalar EM replica of Unigram.train over a word histogram; also
    * returns the scores that drove the final E-step (the encode side's
    * segmentation scores). */
  private def scalarUnigramFull(words: Map[String, Long], maxTokLen: Int,
                                maxWordLen: Int, maxVocab: Int, minFreq: Int,
                                emIters: Int)
      : (Map[String, (Long, Int)], Map[String, Int]) = {
    def cp(s: String) = s.codePointCount(0, s.length)
    val tw = words.filter { case (w, _) => cp(w) <= maxWordLen }
    val seedFreq = scala.collection.mutable.Map[String, Long]()
    tw.foreach { case (w, c) =>
      val cps = w.codePoints().toArray
      for (s <- cps.indices; l <- 1 to math.min(maxTokLen, cps.length - s))
        seedFreq.updateWith(new String(cps, s, l))(v => Some(v.getOrElse(0L) + c))
    }
    val singles = seedFreq.filter { case (t, _) => cp(t) == 1 }
    val multis = seedFreq.toSeq
      .filter { case (t, f) => cp(t) >= 2 && f >= minFreq }
      .sortBy { case (t, f) => (-f, t) }.take(maxVocab)
    var vocab: Map[String, Long] = (singles ++ multis).toMap
    var raw: Map[String, Long] = Map.empty
    def nllOf(v: Map[String, Long]): Map[String, Int] = {
      val total = v.values.sum
      v.map { case (t, f) =>
        t -> math.round(100.0 * math.log(total.toDouble / f)).toInt }
    }
    var lastNll: Map[String, Int] = Map.empty
    for (_ <- 1 to emIters) {
      lastNll = nllOf(vocab)
      val counts = scala.collection.mutable.Map[String, Long]()
      tw.foreach { case (w, c) =>
        Unigram.viterbi(w, lastNll, maxTokLen).foreach(t =>
          counts.updateWith(t)(v => Some(v.getOrElse(0L) + c)))
      }
      raw = vocab.keysIterator.map(t => t -> counts.getOrElse(t, 0L)).toMap
      vocab = raw.flatMap { case (t, c) =>
        if (cp(t) == 1) Some(t -> math.max(c, 1L))
        else if (c > 0) Some(t -> c) else None
      }
    }
    val fin = nllOf(vocab)
    (vocab.map { case (t, _) => t -> ((raw(t), fin(t))) }, lastNll)
  }

  private def scalarUnigram(words: Map[String, Long], maxTokLen: Int,
                            maxWordLen: Int, maxVocab: Int, minFreq: Int,
                            emIters: Int): Map[String, (Long, Int)] =
    scalarUnigramFull(words, maxTokLen, maxWordLen, maxVocab, minFreq,
      emIters)._1

  test("train matches the scalar EM on a small corpus; multis prune, singles survive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat the cat ran"),
      (2L, "the mat the cat the hat on on on"),
      (3L, "a cat and a hat and a mat")).toDF("doc_id", "text")
    val got = Unigram.train(docs, "text", maxTokLen = 3, maxWordLen = 8,
        maxVocab = 20, minFreq = 2, emIters = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    val hist = Bpe.wordHistogram(docs, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = scalarUnigram(hist, 3, 8, 20, 2, 2)
    assert(got == want)
    // EM actually pruned: the surviving multi-char tokens are a PROPER
    // subset of the seeded multi-char vocabulary
    val seedMultis = hist.toSeq.flatMap { case (w, c) =>
      val cps = w.codePoints().toArray
      for (s <- cps.indices; l <- 2 to math.min(3, cps.length - s))
        yield (new String(cps, s, l), c)
    }.groupMapReduce(_._1)(_._2)(_ + _)
      .filter(_._2 >= 2).toSeq.sortBy { case (t, f) => (-f, t) }
      .take(20).map(_._1).toSet
    val gotMultis = got.keySet.filter(t => t.codePointCount(0, t.length) >= 2)
    assert(gotMultis.subsetOf(seedMultis) && gotMultis != seedMultis,
      s"expected a proper subset of ${seedMultis.size} seeds, got ${gotMultis.size}")
    // every single code point of every training word survives
    val allSingles = hist.keys.flatMap(_.codePoints().toArray.map(c =>
      new String(Character.toChars(c)))).toSet
    assert(allSingles.subsetOf(got.keySet))
  }

  test("tokenizeDocs: per-doc id sequences match a scalar replica end-to-end") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "a hat and  a cat"),        // double space: empty words dropped
      (3L, "supercalifragilistic"),    // beyond maxWordLen → no row
      (4L, "")).toDF("doc_id", "text")
    val got = Unigram.tokenizeDocs(docs, "doc_id", "text", maxTokLen = 3,
        maxWordLen = 8, maxVocab = 20, minFreq = 2, emIters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap

    val hist = Bpe.wordHistogram(docs, "text")
      .where(org.apache.spark.sql.functions.length($"word") <= 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (fin, lastNll) = scalarUnigramFull(hist, 3, 8, 20, 2, 2)
    val ids = fin.keys.toSeq.map(t => t -> md5hex(t)).sortBy(_._2)
      .zipWithIndex.map { case ((t, _), i) => t -> (i + 1) }.toMap
    val corpus = Map(
      1L -> "the cat sat on the mat", 2L -> "a hat and  a cat")
    val expect = corpus.map { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty).toSeq
        .filter(hist.contains) // maxWordLen drop, as in training
        .flatMap(w => Unigram.viterbi(w, lastNll, 3))
      id -> ((toks.length, md5hex(toks.map(ids).mkString(","))))
    }
    assert(got == expect)
    assert(!got.contains(3L) && !got.contains(4L),
      "long-word-only and empty docs must produce no row")
  }

  test("words longer than maxWordLen are excluded from training") {
    import spark.implicits._
    val docs = Seq((1L, "short verylongwordbeyond short")).toDF("doc_id", "text")
    val got = Unigram.train(docs, "text", maxTokLen = 3, maxWordLen = 6,
        maxVocab = 10, minFreq = 1, emIters = 1)
      .collect().map(_.getString(0)).toSet
    // code points unique to the long word (y, b, g, ...) must not appear
    assert(!got.contains("y") && !got.contains("b") && !got.contains("g"),
      got.toString)
    // "short"'s code points all survive
    assert(Set("s", "h", "o", "r", "t").subsetOf(got), got.toString)
  }

}
