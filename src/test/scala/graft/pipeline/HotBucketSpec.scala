package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Round-12 hot-bucket hardening fixtures: a corpus-sized cluster of
  * IDENTICAL items (all-black thumbnails, boilerplate docs) must cost the
  * banded near-dup family O(m), not m²/2 — exact-equal fingerprints
  * collapse to one representative before banding, the resolve path walks
  * member→representative star edges, and only DISTINCT fingerprints ever
  * meet the band self-join. */
class HotBucketSpec extends AnyFunSuite with SharedSpark {

  override protected def cpus = 8

  test("1000 identical images: spanning edge count is linear, verdict is one cluster") {
    import spark.implicits._
    val same = Multimodal.encodePng(16, 12, (x, y) => (x * 13 + y * 29) % 256)
    val rows = (1L to 1000L).map(id =>
      Multimodal.MediaRow(id, "image/png", same)) ++
      Seq(2001L, 2002L, 2003L).map(id =>
        Multimodal.MediaRow(id, "image/png", Multimodal.synthPngAsset(id)))
    val media = spark.createDataset(rows).toDF()

    val hashes = Multimodal.imageDhash(media).select("doc_id", "dhash")
    val edges = Dedup.hammingEdges(
      Dedup.hammingReps(Multimodal.hexWords(hashes, "dhash"), nBits = 64),
      maxDist = 3)
    val n = edges.count()
    // the 1000-item identical cluster contributes exactly 999 star edges;
    // everything else is bounded by rep-level pairs among ≤ 4 distinct
    // hashes (≤ 6) plus ≤ 3 extra stars if extras collide — NEVER the
    // ~499,500-pair clique the uncollapsed band join would generate
    assert(n >= 999L && n <= 999L + 9L,
      s"edge count $n is not linear in the identical-cluster size")

    val verdict = Multimodal.resolveImageNearDups(media, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(verdict.length == 1003)
    val big = verdict.filter(_._1 <= 1000L)
    assert(big.forall(_._2 == 1L), "identical images must share one cluster")
    assert(big.count(_._3) == 1 && big.find(_._3).get._1 == 1L,
      "exactly the min id survives the identical cluster")
  }

  test("1000 identical docs: LSH collapses to one representative, zero rep candidates") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog again tonight"
    val docs = ((1L to 1000L).map(id => (id, text)) ++ Seq(
      (2001L, "completely unrelated words about spark catalyst planning"),
      (2002L, "another disjoint vocabulary entirely for graph algorithms")))
      .toDF("doc_id", "text")
    val reps = Dedup.minhashReps(docs, "doc_id", "text",
      n = 2, numHashes = 64, bandRows = 4)
    assert(reps.count() == 3L,
      "exact-equal gram sets must collapse to one representative")
    // the identical cluster is ONE rep: candidate volume is bounded by
    // pairs among the 3 distinct gram sets, never the 499,500 pairs the
    // uncollapsed band join would enumerate
    val cands = Dedup.repBandCandidates(reps).count()
    assert(cands <= 3L, s"rep-level candidates $cands not collapse-bounded")
  }

  test("1000 identical docs: simhash collapses to one representative, pairs are C(1000,2)") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog again tonight"
    val docs = ((1L to 1000L).map(id => (id, text)) ++ Seq(
      (2001L, "completely unrelated words about spark catalyst planning"),
      (2002L, "another disjoint vocabulary entirely for graph algorithms")))
      .toDF("doc_id", "text")
    val reps = Dedup.hammingReps(Dedup.simhashes(docs, "doc_id", "text"), nBits = 60)
    assert(reps.count() == 3L,
      "identical signatures must collapse to one representative")
    val cands = Dedup.repBandCandidates(reps).count()
    assert(cands <= 3L, s"rep-level candidates $cands not collapse-bounded")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
    assert(pairs.count() == 1000L * 999L / 2)
    assert(pairs.where("a_id >= b_id OR b_id > 1000 OR hamming != 0").isEmpty)
  }

  test("identical-cluster pair list survives the collapse bit-for-bit") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = ((1L to 20L).map(id => (id, text)) :+
      (50L, "nothing here overlaps with the greek letter sequence at all"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 2, numHashes = 64, bandRows = 4, minSim = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 190, s"expected C(20,2) pairs, got ${pairs.length}")
    assert(pairs.forall(p => p._3 == 1.0 && p._1 < p._2 && p._2 <= 20L))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      (for (a <- 1L to 20L; b <- (a + 1) to 20L) yield (a, b)).toSet)
  }

  test("collapse expansion: exact within-set and cross-set pair list") {
    import spark.implicits._
    // two multi-member gram sets, ids interleaved so the expansion must
    // re-order cross pairs: b swaps a's last word, so they share 8 of
    // 10 distinct bigrams (Jaccard 0.8)
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = a.replace("kappa", "lambda")
    val docs = Seq(1L -> a, 2L -> b, 4L -> a, 5L -> b, 6L -> a,
        9L -> "nothing here overlaps with the greek letter sequence at all")
      .toDF("doc_id", "text")

    val reps = Dedup.minhashReps(docs, "doc_id", "text",
        n = 2, numHashes = 64, bandRows = 4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Seq[Long]]("members"))
      .toMap
    assert(reps === Map(1L -> Seq(1L, 4L, 6L), 2L -> Seq(2L, 5L), 9L -> Seq(9L)))

    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 2, numHashes = 64, bandRows = 4, minSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    val within = Seq((1L, 4L, 1.0), (1L, 6L, 1.0), (4L, 6L, 1.0), (2L, 5L, 1.0))
    val cross = for (x <- Seq(1L, 4L, 6L); y <- Seq(2L, 5L))
      yield (math.min(x, y), math.max(x, y), 0.8)
    assert(pairs === (within ++ cross).sorted)
  }
}
