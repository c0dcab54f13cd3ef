package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Late round-9 operators: CCNet perplexity buckets, sorted-neighborhood
  * blocking, Gram power iteration, rendezvous sharding, and PMI
  * co-occurrence — semantics against scalar reimplementations plus the
  * scale-shape assertions (no corpus-wide single-partition sort, no
  * shuffle in the HRW projection). */
class LateOpsSpec extends AnyFunSuite with SharedSpark {

  private def r9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("ccnetBuckets: per-language value-cutoff terciles, ties to the lower bucket") {
    import spark.implicits._
    // language A: 9 docs mixing a common bigram ("a b") with per-doc
    // rare (→UNK) words in different proportions, so perplexities are
    // distinct; language B: all-identical docs (every perplexity ties)
    // — the degenerate case where NTILE would split arbitrarily but
    // value cutoffs must put EVERYTHING in head (all values <= cut1).
    val a = (1 to 9).map { i =>
      val common = Seq.fill(i)("a b").mkString(" ")
      val rare = (1 to (10 - i)).map(j => s"q${i}_$j").mkString(" ")
      (i.toLong, s"$common $rare", "aa")
    }
    val b = (10 to 15).map(i => (i.toLong, "same same same", "bb"))
    val df = (a ++ b).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.ccnetBuckets(df, "doc_id", "text", "lang",
      topK = 5, alpha = 0.5).collect()

    val byLang = out.groupBy(_.getString(1))
    // every tied doc of bb lands in head (value <= cut1 = the value)
    assert(byLang("bb").forall(_.getString(4) == "head"))
    // aa: bucket ordering must agree with perplexity ordering
    val aa = byLang("aa").map(r => (r.getDouble(3), r.getString(4)))
    assert(aa.map(_._1).distinct.length == 9, s"fixture not distinct: $aa")
    val maxHead = aa.filter(_._2 == "head").map(_._1).max
    val mids = aa.filter(_._2 == "middle").map(_._1)
    val minTail = aa.filter(_._2 == "tail").map(_._1).min
    assert(mids.forall(p => p > maxHead && p < minTail))
    // tercile sizes by ⌈n/3⌉ cutoffs on 9 distinct values: 3/3/3
    assert(aa.count(_._2 == "head") == 3 && mids.length == 3)
  }

  test("sortedNeighborhood: exactly the rank-window pairs, invariant to input partitioning") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"k${(i * 7) % 13}%02d-$i"))
      .toDF("doc_id", "text")
    val out = Dedup.sortedNeighborhood(docs, "doc_id",
      substring(col("text"), 1, 3), window = 4)
      .select("a_id", "b_id", "rank_dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // brute force: global rank over (key, id), pairs within distance 3
    val keyed = (1L to 40L).map(i => (i, s"k${(i * 7) % 13}%02d-$i".take(3)))
      .sortBy { case (id, k) => (k, id) }.zipWithIndex
    val expect = (for {
      (a, ra) <- keyed; (b, rb) <- keyed
      d = rb - ra if d >= 1 && d <= 3
    } yield (a._1, b._1, d)).toSet
    assert(out == expect)

    // rank is a property of the total order, not the physical layout
    val again = Dedup.sortedNeighborhood(docs.repartition(7), "doc_id",
      substring(col("text"), 1, 3), window = 4)
      .select("a_id", "b_id", "rank_dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(again == expect)
  }

  test("powerIteration: converges to the dominant eigenvector of a known matrix") {
    import spark.implicits._
    // G = diag(9, 4, 1) + small symmetric coupling: dominant direction
    // pulls toward e1. Upper triangle only, as gramMatrix emits.
    val gram = Seq(
      (0, 0, 9.0), (0, 1, 0.5), (0, 2, 0.1),
      (1, 1, 4.0), (1, 2, 0.2),
      (2, 2, 1.0)).toDF("i", "j", "gram")
    val out = Projection.powerIteration(gram, dims = 3, rounds = 3)
      .collect().sortBy(_.getInt(0))

    // scalar replica with the operator's exact rounding discipline
    val m = Array(
      Array(9.0, 0.5, 0.1), Array(0.5, 4.0, 0.2), Array(0.1, 0.2, 1.0))
    var v = Array.fill(3)(r9(1.0 / math.sqrt(3.0)))
    var lambda = 0.0
    for (_ <- 1 to 3) {
      val raw = (0 until 3).map(i =>
        r9((0 until 3).foldLeft(0.0)((acc, j) => acc + m(i)(j) * v(j)))).toArray
      lambda = r9(math.sqrt(raw.foldLeft(0.0)((acc, x) => acc + x * x)))
      v = raw.map(x => r9(x / lambda))
    }
    out.zipWithIndex.foreach { case (row, i) =>
      assert(row.getDouble(1) == v(i), s"component $i")
      assert(row.getDouble(2) == lambda, "lambda")
    }
    // after 3 rounds on this spectrum the top component dominates
    assert(v(0) > 0.97 && math.abs(v(1)) < 0.2)
  }

  test("rendezvousShard: shuffle-free plan, uniform-ish spread, minimal movement on grow") {
    import spark.implicits._
    val ids = (1L to 4000L).toDF("doc_id")
    val s8 = Sampling.rendezvousShard(ids, "doc_id", 8)
    // the whole operator is one projection: no Exchange in the plan
    val plan = s8.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))

    val a8 = s8.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sizes = a8.values.groupBy(identity).view.mapValues(_.size)
    assert(sizes.size == 8 && sizes.values.min > 300, sizes.toMap)

    // HRW's point: adding shard 8 moves ONLY keys that now win shard 8
    val a9 = Sampling.rendezvousShard(ids, "doc_id", 9)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val moved = a8.keys.filter(k => a8(k) != a9(k)).toSeq
    assert(moved.forall(k => a9(k) == 8), "moves only target the new shard")
    // expected movement ≈ n/9 ≈ 444; assert the right order of magnitude
    assert(moved.size > 250 && moved.size < 700, moved.size)
  }

  test("standardize: exact fixed-point moments, zero-variance guard, unit output stats") {
    import spark.implicits._
    val vs = Seq(
      (1L, Seq(1.0f, 5.0f, 2.0f)),
      (2L, Seq(3.0f, 5.0f, 4.0f)),
      (3L, Seq(5.0f, 5.0f, 9.0f)))
    val out = Projection.standardize(vs.toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2))).toMap
    // dim 0: values 1,3,5 → mean 3, var 8/3 → z = ±2/sqrt(8/3), 0
    val s0 = 2.0 / math.sqrt(8.0 / 3.0)
    assert(math.abs(out((1L, 0)) + s0) < 1e-6)
    assert(out((2L, 0)) == 0.0)
    assert(math.abs(out((3L, 0)) - s0) < 1e-6)
    // dim 1 is constant → variance 0 → z = 0, not NaN
    assert(Seq(1L, 2L, 3L).forall(id => out((id, 1)) == 0.0))
    // standardized dims have mean 0 and unit population variance
    val d2 = Seq(1L, 2L, 3L).map(id => out((id, 2)))
    assert(math.abs(d2.sum) < 1e-5)
    assert(math.abs(d2.map(z => z * z).sum / 3 - 1.0) < 1e-5)
  }

  test("pmiCooccurrence: counts and PMI against hand math") {
    import spark.implicits._
    // 4 docs; "x y" co-occur in 3, "x z" in 1 (below minPairs)
    val df = Seq(
      (1L, "x y q"), (2L, "x y"), (3L, "y x x"), (4L, "x z"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.pmiCooccurrence(df, "doc_id", "text",
        vocabK = 10, minPairs = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // c(x)=4 docs, c(y)=3, c(x,y)=3, N=4 → pmi = ln(4·3/(4·3)) = 0
    assert(out.keySet == Set(("x", "y")))
    val (cab, c1, c2, pmi) = out(("x", "y"))
    assert(cab == 3 && c1 == 4 && c2 == 3)
    assert(pmi == 0.0)
  }
}
