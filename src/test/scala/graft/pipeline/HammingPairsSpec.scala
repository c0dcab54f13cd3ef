package graft.pipeline

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** The banded-Hamming kernel behind simhash, image and audio near-dups
  * against a plain all-pairs reference: random words of 32, 60 and
  * 64 bits with planted exact clusters and 1–3-bit neighbours, top bits
  * included, must yield exactly the pairs at distance ≤ maxDist. The 32-
  * and 64-bit words travel as hex, through the same conversion the audio
  * and image operators use. */
class HammingPairsSpec extends AnyFunSuite with SharedSpark {

  /** ~400 words: random bases, each with probability 1/3 an exact copy
    * cluster of 2–4 and with probability 1/2 up to three neighbours 1–3
    * bits away; every fifth base has its top bit forced on. */
  private def plant(nBits: Int, seed: Long): IndexedSeq[Long] = {
    val rnd = new Random(seed)
    val mask = if (nBits == 64) -1L else (1L << nBits) - 1
    def flip(x: Long, k: Int) =
      rnd.shuffle((0 until nBits).toList).take(k).foldLeft(x)((v, b) => v ^ (1L << b))
    (0 until 150).flatMap { i =>
      val base = (rnd.nextLong() & mask) |
        (if (i % 5 == 0) 1L << (nBits - 1) else 0L)
      val copies = if (rnd.nextInt(3) == 0) Seq.fill(1 + rnd.nextInt(3))(base) else Nil
      val near = if (rnd.nextBoolean()) Seq.fill(1 + rnd.nextInt(3))(flip(base, 1 + rnd.nextInt(3)))
        else Nil
      base +: (copies ++ near)
    }
  }

  private def bruteForce(words: IndexedSeq[Long], maxDist: Int): Set[(Long, Long, Int)] =
    (for {
      i <- words.indices; j <- (i + 1) until words.length
      d = java.lang.Long.bitCount(words(i) ^ words(j)) if d <= maxDist
    } yield (i + 1L, j + 1L, d)).toSet

  test("pairs equal the all-pairs list at 32, 60 and 64 bits") {
    import spark.implicits._
    for ((nBits, seed) <- Seq(32 -> 1L, 60 -> 2L, 64 -> 3L); maxDist <- Seq(1, 3)) {
      val words = plant(nBits, seed)
      assert(words.exists(_ >>> (nBits - 1) == 1L), "no word with its top bit set")
      val ids = words.indices.map(_ + 1L)
      val got = (nBits match {
        case 60 =>
          Dedup.hammingPairs(ids.zip(words).toDF("id", "fp"), nBits, maxDist)
        case 64 =>
          Multimodal.dhashNearDupPairs(
            ids.zip(words.map(w => f"$w%016x")).toDF("doc_id", "dhash"), maxDist)
        case 32 =>
          Dedup.hammingPairs(Multimodal.hexWords(
            ids.zip(words.map(w => f"$w%08x")).toDF("doc_id", "fingerprint"),
            "fingerprint"), nBits, maxDist)
      }).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val want = bruteForce(words, maxDist)
      assert(want.exists(_._3 == 0) && want.exists(_._3 > 0),
        s"$nBits bits: the plant must hold exact and near pairs")
      assert(got.length == got.toSet.size, s"$nBits bits: duplicate pairs")
      assert(got.toSet == want, s"$nBits bits, maxDist $maxDist: " +
        s"missing ${(want -- got).take(5)}, extra ${(got.toSet -- want).take(5)}")
    }
  }
}
