package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Bpe.train against a single-threaded scalar BPE (same greedy
  * left-to-right merge, same (freq desc, pair-string asc) tie-break),
  * plus the overlap edge ("aaaa" merges to [aa, aa], not [aa, a, a]) and
  * the Sennrich-style suffix-discovery sanity case. */
class BpeSpec extends AnyFunSuite with SharedSpark {

  /** Scalar BPE over a word histogram. */
  private def scalarBpe(words: Map[String, Long], rounds: Int): Seq[(String, String, Long)] = {
    var st: Map[Seq[String], Long] = words.map { case (w, c) => (w.map(_.toString), c) }
    val out = Seq.newBuilder[(String, String, Long)]
    for (_ <- 0 until rounds) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      st.foreach { case (syms, c) =>
        syms.zip(syms.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + c)
      }
      if (counts.nonEmpty) {
        val ((l, r), f) = counts.minBy { case ((a, b), n) => (-n, a + Bpe.Sep + b) }
        out += ((l, r, f))
        st = st.toSeq.map { case (syms, c) =>
          val ns = Seq.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { ns += l + r; i += 2 }
            else { ns += syms(i); i += 1 }
          }
          (ns.result(), c)
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    out.result()
  }

  test("train matches the scalar reference on a weighted histogram") {
    import spark.implicits._
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L,
      "aaaa" -> 4L, "banana" -> 7L)
    val hist = words.toSeq.toDF("word", "cnt")
    val got = Bpe.train(hist, numMerges = 10).map(m => (m.left, m.right, m.freq))
    assert(got == scalarBpe(words, 10))
  }

  test("greedy left-to-right overlap: aaaa → [aa][aa]") {
    import spark.implicits._
    val hist = Seq(("aaaa", 1L)).toDF("word", "cnt")
    val merges = Bpe.train(hist, numMerges = 2)
    // round 1: (a,a) freq 3 (pairs within the word); after the greedy
    // merge the word is [aa, aa], so round 2 merges (aa, aa) freq 1
    assert(merges.map(m => (m.left, m.right, m.freq)) ==
      Seq(("a", "a", 3L), ("aa", "aa", 1L)))
  }

  test("mergeTable discovers a shared suffix before whole words") {
    import spark.implicits._
    val docs = Seq(
      (1L, "newest newest newest widest widest lowest"),
      (2L, "newest newest newest widest lowest low")
    ).toDF("doc_id", "text")
    val merges = Bpe.mergeTable(docs, "text", numMerges = 6).collect()
      .map(r => (r.getInt(0), r.getString(1) + r.getString(2), r.getLong(3)))
    // 'est'-building merges dominate: (e,s) then (es,t) carry the summed
    // frequency of all three word types (newest 6 + widest 3 + lowest 2)
    assert(merges(0)._2 == "es" && merges(0)._3 == 11L, merges.toSeq.toString)
    assert(merges(1)._2 == "est" && merges(1)._3 == 11L, merges.toSeq.toString)
  }

  test("larger randomized vocabulary still matches the scalar reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefgh"
    val words = (1 to 800).map { _ =>
      (1 to (3 + rnd.nextInt(9))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val hist = words.toSeq.toDF("word", "cnt")
    val got = Bpe.train(hist, numMerges = 15).map(m => (m.left, m.right, m.freq))
    assert(got == scalarBpe(words, 15))
    assert(got.size == 15)
  }

  test("wordHistogram enforces the separator invariant: chr(31) words are dropped") {
    import spark.implicits._
    val docs = Seq((1L, s"ok ok bad${Bpe.Sep}word ok ${Bpe.Sep}")).toDF("doc_id", "text")
    val hist = Bpe.wordHistogram(docs, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // only the clean token survives — no symbol can ever contain Sep, so
    // the pair tie-break string and toks_hash stay injective
    assert(hist == Map("ok" -> 3L))
  }

  test("exhaustion: single-character words yield no merges") {
    import spark.implicits._
    val hist = Seq(("a", 5L), ("b", 3L)).toDF("word", "cnt")
    assert(Bpe.train(hist, numMerges = 4).isEmpty)
  }

  test("encodeWords: symbols concatenate back to the word and compress with training depth") {
    import spark.implicits._
    val docs = Seq(
      (1L, "newest newest newest widest widest lowest"),
      (2L, "newest newest newest widest lowest low")
    ).toDF("doc_id", "text")
    val hist = Bpe.wordHistogram(docs, "text")
    val merges = Bpe.train(hist, numMerges = 8)
    val applyScalar = (word: String) => {
      var syms: Seq[String] = word.map(_.toString)
      merges.sortBy(_.rank).foreach { m =>
        val out = Seq.newBuilder[String]; var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == m.left && syms(i + 1) == m.right) {
            out += m.left + m.right; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val got = Bpe.encodeWords(hist, merges).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getInt(2), r.getString(3)))).toMap
    val words = Seq("newest", "widest", "lowest", "low")
    assert(got.keySet == words.toSet)
    words.foreach { w =>
      val syms = applyScalar(w)
      assert(syms.mkString == w, s"$w: symbols don't concatenate back")
      assert(got(w)._2 == syms.length, s"$w token count")
      val expectHash = java.security.MessageDigest.getInstance("MD5")
        .digest(syms.mkString(Bpe.Sep).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(got(w)._3 == expectHash, s"$w hash")
    }
    // training actually compresses: the most frequent word ends at 1-2
    // tokens, and every word needs at most its character count
    assert(got("newest")._2 <= 2)
    got.foreach { case (w, (_, n, _)) => assert(n <= w.length) }
  }

  test("tokenizeDocs: per-doc id sequences match the scalar tokenizer end-to-end") {
    import spark.implicits._
    val docs = Seq(
      (1L, "newest newest widest lowest"),
      (2L, "low lowest  newest"), // double space: empty words dropped
      (3L, ""))                   // no words → no output row
      .toDF("doc_id", "text")
    val numMerges = 6
    val got = Bpe.tokenizeDocs(docs, "doc_id", "text", numMerges).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap

    // scalar replica: train on the histogram, apply merges per word,
    // rank symbols by md5 for ids, concatenate per doc in word order
    val hist = Bpe.wordHistogram(docs, "text")
    val merges = Bpe.train(hist, numMerges)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def applyScalar(word: String): Seq[String] = {
      var syms: Seq[String] = word.map(_.toString)
      merges.sortBy(_.rank).foreach { m =>
        val out = Seq.newBuilder[String]; var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == m.left && syms(i + 1) == m.right) {
            out += m.left + m.right; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val corpus = Map(
      1L -> Seq("newest", "newest", "widest", "lowest"),
      2L -> Seq("low", "lowest", "newest"))
    val vocab = corpus.values.flatten.toSeq.distinct.flatMap(applyScalar)
      .distinct.map(s => s -> md5hex(s)).sortBy(_._2)
      .zipWithIndex.map { case ((s, _), i) => s -> (i + 1) }.toMap
    val expect = corpus.map { case (id, ws) =>
      val ids = ws.flatMap(applyScalar).map(vocab)
      id -> (ids.length, md5hex(ids.mkString(",")))
    }
    assert(got == expect)
    assert(!got.contains(3L), "empty doc must produce no row")
  }

  // ---- batched training: exactness + effectiveness --------------------------

  test("selectBatch accepts a disjoint prefix and stops at the first conflict") {
    val cands = Seq(("a", "b", 100L), ("c", "d", 90L), ("e", "f", 80L),
      ("b", "c", 70L), ("g", "h", 60L))
    // (b,c) shares b with accepted (a,b) → stop there; (g,h) after the
    // conflict is NOT accepted even though it is disjoint (its post-merge
    // rank is unknowable without recounting)
    assert(Bpe.selectBatch(cands, truncated = false, Set.empty) ==
      Seq(("a", "b", 100L), ("c", "d", 90L), ("e", "f", 80L)))
  }

  test("selectBatch tie safety: an equal-count conflicting pair blocks the tied candidate") {
    // (x,a) ties (c,d) at 90 and shares a with accepted (a,b): merging
    // (a,b) could create a pair of count 90 that wins the string
    // tie-break, so (c,d) cannot be proven to be the next sequential pick
    val cands = Seq(("a", "b", 100L), ("c", "d", 90L), ("x", "a", 90L))
    assert(Bpe.selectBatch(cands, truncated = false, Set.empty) ==
      Seq(("a", "b", 100L)))
    // at 89 the created-pair bound is strictly below 90 → safe
    val cands2 = Seq(("a", "b", 100L), ("c", "d", 90L), ("x", "a", 89L))
    assert(Bpe.selectBatch(cands2, truncated = false, Set.empty) ==
      Seq(("a", "b", 100L), ("c", "d", 90L)))
  }

  test("selectBatch truncation: a candidate tying the collected tail stops the batch") {
    val cands = Seq(("a", "b", 100L), ("c", "d", 90L), ("e", "f", 90L))
    // truncated list: pairs beyond the tail may also hold 90 and conflict
    assert(Bpe.selectBatch(cands, truncated = true, Set.empty) ==
      Seq(("a", "b", 100L)))
    // complete list: no out-of-list generators exist → both accepted
    assert(Bpe.selectBatch(cands, truncated = false, Set.empty).size == 3)
  }

  test("selectBatch stops AFTER a self-pair and AFTER an alias") {
    val self = Seq(("a", "a", 100L), ("c", "d", 90L))
    assert(Bpe.selectBatch(self, truncated = false, Set.empty) ==
      Seq(("a", "a", 100L)))
    // "cd" was created by a previous round's merge → its counts pool
    val alias = Seq(("c", "d", 100L), ("e", "f", 90L))
    assert(Bpe.selectBatch(alias, truncated = false, Set("cd")) ==
      Seq(("c", "d", 100L)))
    // in-batch alias: ("x","yz") and ("xy","z") both output "xyz"
    val inBatch = Seq(("x", "yz", 100L), ("xy", "z", 90L), ("p", "q", 80L))
    assert(Bpe.selectBatch(inBatch, truncated = false, Set.empty) ==
      Seq(("x", "yz", 100L), ("xy", "z", 90L)))
  }

  test("batched training runs fewer rounds than merges on a batch-friendly corpus") {
    import spark.implicits._
    // many frequent DISJOINT pairs with distinct counts: a sequential
    // trainer needs one round per merge; the batch proof accepts several
    val words = Map("ab" -> 100L, "cd" -> 90L, "ef" -> 80L, "gh" -> 70L,
      "ij" -> 60L, "kl" -> 50L, "mn" -> 40L, "op" -> 30L)
    val hist = words.toSeq.toDF("word", "cnt")
    val (merges, rounds) = Bpe.trainRounds(hist, numMerges = 8)
    assert(merges.map(m => (m.left, m.right, m.freq)) == scalarBpe(words, 8))
    assert(rounds < 8, s"expected batching to cut rounds, ran $rounds")
  }

  test("100-merge training on English-like text: batched == scalar, rounds well below merges") {
    import spark.implicits._
    // realistic pair distribution: words drawn from a fixed English-ish
    // vocabulary with Zipf-ish repetition — the regime where top pairs
    // are mostly disjoint and batching pays
    val vocabWords = Seq("the", "quick", "brown", "foxes", "jumped", "over",
      "lazy", "dogs", "while", "evening", "rivers", "glistened", "under",
      "amber", "skies", "travelers", "rested", "beside", "ancient", "stones")
    val rnd = new scala.util.Random(42)
    val words = (1 to 4000).map(_ =>
        vocabWords(math.min(rnd.nextInt(rnd.nextInt(vocabWords.length) + 1),
          vocabWords.length - 1)))
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val hist = words.toSeq.toDF("word", "cnt")
    val (merges, rounds) = Bpe.trainRounds(hist, numMerges = 100)
    assert(merges.map(m => (m.left, m.right, m.freq)) == scalarBpe(words, 100))
    assert(rounds < 60, s"batching degenerated: $rounds rounds for 100 merges")
  }

  test("trainFast: far fewer rounds, high merge-set overlap, exact when conflict-free") {
    import spark.implicits._
    // conflict-free corpus: identical to exact training
    val disjoint = Map("ab" -> 100L, "cd" -> 90L, "ef" -> 80L, "gh" -> 70L)
    val dhist = disjoint.toSeq.toDF("word", "cnt")
    val (fastD, roundsD) = Bpe.trainFast(dhist, numMerges = 4)
    assert(fastD.map(m => (m.left, m.right, m.freq)) == scalarBpe(disjoint, 4))
    assert(roundsD == 1)

    // realistic text: conflicts are skipped instead of batch-ending, so
    // rounds collapse well below the exact batcher's while the merge SET
    // stays close to sequential (the documented production trade)
    val vocabWords = Seq("the", "quick", "brown", "foxes", "jumped", "over",
      "lazy", "dogs", "while", "evening", "rivers", "glistened", "under",
      "amber", "skies", "travelers", "rested", "beside", "ancient", "stones")
    val rnd = new scala.util.Random(42)
    val words = (1 to 4000).map(_ =>
        vocabWords(math.min(rnd.nextInt(rnd.nextInt(vocabWords.length) + 1),
          vocabWords.length - 1)))
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val hist = words.toSeq.toDF("word", "cnt")
    // 30 merges: the Zipf-structured head, where a production tokenizer
    // spends its budget (the deep tail of a 20-word toy vocabulary is
    // tie-dominated and order-chaotic for ANY batching rule)
    val (exact, exactRounds) = Bpe.trainRounds(hist, numMerges = 30)
    val (fast, fastRounds) = Bpe.trainFast(hist, numMerges = 30)
    assert(fastRounds < exactRounds,
      s"fast=$fastRounds vs exact=$exactRounds rounds")
    assert(fastRounds <= 12, s"fastRounds=$fastRounds")
    val exactSet = exact.map(m => (m.left, m.right)).toSet
    val fastSet = fast.map(m => (m.left, m.right)).toSet
    val overlap = (exactSet & fastSet).size.toDouble / exactSet.size
    assert(overlap >= 0.8, s"merge-set overlap $overlap")
  }

  test("tiny-batchK fuzz: truncated candidate lists stay scalar-exact") {
    import spark.implicits._
    // batchK far below the live pair count forces the truncation path
    // (out-of-list tie bound) on every round, across alphabets wide
    // enough that many pairs tie at the tail
    (21 to 23).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val alphabet = "abcd"
      val words = (1 to 400).map { _ =>
        (1 to (2 + rnd.nextInt(7))).map(_ => alphabet(rnd.nextInt(4))).mkString
      }.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      val hist = words.toSeq.toDF("word", "cnt")
      Seq(2, 4, 7).foreach { k =>
        val (got, _) = Bpe.trainRounds(hist, numMerges = 15, batchK = k)
        assert(got.map(m => (m.left, m.right, m.freq)) == scalarBpe(words, 15),
          s"seed $seed batchK $k diverged")
      }
    }
  }

  test("high-collision fuzz: batched == scalar-sequential across seeds") {
    import spark.implicits._
    // tiny alphabet → constant ties, self-pairs, aliases ("abab" from
    // both (a,b)+(ab,ab) chains) — the regime where an unsound batch
    // rule diverges from sequential
    (11 to 15).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val words = (1 to 300).map { _ =>
        (1 to (2 + rnd.nextInt(5))).map(_ => "ab" (rnd.nextInt(2))).mkString
      }.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      val hist = words.toSeq.toDF("word", "cnt")
      val got = Bpe.train(hist, numMerges = 12).map(m => (m.left, m.right, m.freq))
      assert(got == scalarBpe(words, 12), s"seed $seed diverged")
    }
  }

}
