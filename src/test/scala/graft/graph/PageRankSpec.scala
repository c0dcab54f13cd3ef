package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** PageRank.ranks against a driver-side scalar reimplementation of the
  * same integer recurrence, plus the structural properties a centrality
  * ranking must satisfy (hub outranks leaves, mass conservation bound,
  * dangling nodes keep the teleport base). */
class PageRankSpec extends AnyFunSuite with SharedSpark {

  private val Scale = 1L << 20

  /** Same integer recurrence, sequentially: rank div outdeg per edge,
    * base + 85·Σ div 100 per node. */
  private def scalarRanks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = Scale * 15 / 100
    var r = nodes.map(_ -> Scale).toMap
    (1 to iters).foreach { _ =>
      val sums = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => r(s) / outdeg(s) }.sum
      }
      r = nodes.map(n => n -> (base + 85 * sums.getOrElse(n, 0L) / 100)).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    PageRank.ranks(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("matches the scalar integer reference exactly") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).distinct
      .filter { case (a, b) => a != b }
    assert(run(edges, 5) == scalarRanks(edges, 5))
  }

  test("hub outranks leaves; dangling sink holds teleport-fed mass") {
    // star: every leaf points at the hub; hub points at one sink only
    val leaves = (1L to 20L)
    val edges = leaves.map(_ -> 100L) ++ Seq(100L -> 200L)
    val got = run(edges, 4)
    assert(got(100L) > got(1L) * 10, s"hub ${got(100L)} vs leaf ${got(1L)}")
    // the sink (no out-edges) receives the hub's whole rank each round
    assert(got(200L) > got(1L), s"sink ${got(200L)} vs leaf ${got(1L)}")
    // leaves get exactly the teleport base (no in-edges)
    assert(got(1L) == Scale * 15 / 100)
    // integer mass never exceeds the initial total (damping + floor only
    // destroy mass; creation would mean an arithmetic bug)
    assert(got.values.sum <= Scale * got.size)
  }

  test("result is independent of input partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val edges = (1 to 200).map(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong)).distinct
    val a = PageRank.ranks(edges.toDF("src", "dst").repartition(7), "src", "dst", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == run(edges, 3))
  }

  test("personalizedRanks: scalar parity; mass localizes around seeds") {
    import spark.implicits._
    // two communities bridged by one edge; seed only in community A
    val a = for { i <- 0L to 9L; j <- 0L to 9L if i != j } yield (i, j)
    val b = for { i <- 20L to 29L; j <- 20L to 29L if i != j } yield (i, j)
    val edges = (a ++ b :+ (9L -> 20L)).distinct
    val seeds = Seq(0L)
    val got = PageRank.personalizedRanks(edges.toDF("src", "dst"), "src", "dst",
        seeds.toDF("node"), "node", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // scalar reference: same recurrence, teleport restricted to seeds
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (s2, es) => s2 -> es.size.toLong }
    val base = Scale * 15 / 100
    val seedSet = seeds.toSet
    var r = nodes.map(n => n -> (if (seedSet(n)) Scale else 0L)).toMap
    (1 to 5).foreach { _ =>
      val sums = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s2, _) => r(s2) / outdeg(s2) }.sum
      }
      r = nodes.map(n =>
        n -> ((if (seedSet(n)) base else 0L) + 85 * sums.getOrElse(n, 0L) / 100)).toMap
    }
    assert(got == r)

    // locality: every community-A node outranks every community-B node,
    // and B is not all-zero (mass crosses the bridge) -- the TrustRank
    // behavior uniform PageRank cannot produce on a symmetric graph
    val aRanks = (0L to 9L).map(got); val bRanks = (20L to 29L).map(got)
    assert(aRanks.min > bRanks.max, s"A ${aRanks.min} vs B ${bRanks.max}")
    assert(bRanks.sum > 0, "no mass crossed the bridge")
    // uniform ranks on this near-symmetric graph are near-equal across
    // communities -- confirm personalization is what separates them
    val uni = run(edges, 5)
    val uniA = (0L to 9L).map(uni).sum; val uniB = (20L to 29L).map(uni).sum
    assert(math.abs(uniA - uniB).toDouble / uniB < 0.5)
  }
}
