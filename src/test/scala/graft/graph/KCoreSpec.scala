package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** KCore.prune against a scalar synchronous-peel reimplementation, plus
  * shape cases: a clique is its own (n−1)-core, a chain dies at k=2,
  * and enough rounds reach the true fixed point the sequential peel
  * computes. */
class KCoreSpec extends AnyFunSuite with SharedSpark {

  private def scalar(edges: Seq[(Long, Long)], k: Int,
                     rounds: Int): Map[Long, Long] = {
    val e = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val adj = (e.toSeq ++ e.toSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var alive: Set[Long] = adj.keySet
    var deg = Map.empty[Long, Long]
    (1 to rounds).foreach { _ =>
      deg = alive.iterator
        .map(n => n -> adj(n).count(alive).toLong).toMap
      alive = deg.collect { case (n, d) if d >= k => n }.toSet
      deg = deg.filter { case (n, _) => alive(n) }
    }
    deg
  }

  private def run(edges: Seq[(Long, Long)], k: Int,
                  rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    KCore.prune(edges.toDF("src", "dst"), "src", "dst", k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("matches the scalar synchronous peel on a random graph") {
    val rnd = new scala.util.Random(31)
    val edges = (1 to 500).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    (1 to 4).foreach { r =>
      assert(run(edges, 5, r) == scalar(edges, 5, r), s"round $r")
    }
  }

  test("a clique is its own (n-1)-core; gone at k=n") {
    val ids = 1L to 6L
    val edges = for (a <- ids; b <- ids if a < b) yield (a, b)
    assert(run(edges, 5, 3) == ids.map(_ -> 5L).toMap)
    assert(run(edges, 6, 3).isEmpty)
  }

  test("a chain has no 2-core; a cycle is one") {
    val chain = (1L until 8L).map(i => (i, i + 1))
    assert(run(chain, 2, 8).isEmpty)
    val cycle = chain :+ ((8L, 1L))
    assert(run(cycle, 2, 3) == (1L to 8L).map(_ -> 2L).toMap)
  }

  test("bounded rounds reach the sequential-peel fixed point") {
    // fringe pendant chain attached to a clique: peeling the chain takes
    // one round per link in the synchronous form
    val ids = 1L to 5L
    val clique = for (a <- ids; b <- ids if a < b) yield (a, b)
    val chain = Seq((5L, 10L), (10L, 11L), (11L, 12L))
    val got = run(clique ++ chain, 2, 4)
    assert(got.keySet == ids.toSet)
    assert(got == scalar(clique ++ chain, 2, 4))
  }
}
