package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Bfs.distances against a scalar BFS reference, plus the structural
  * properties a hop-distance map must satisfy (seeds at 0, triangle
  * inequality along edges, unreachable nodes absent, hop bound honored). */
class BfsSpec extends AnyFunSuite with SharedSpark {

  private def scalarBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
                        maxHops: Int): Map[Long, Int] = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var dist = seeds.map(_ -> 0).toMap
    var frontier = seeds
    (1 to maxHops).foreach { h =>
      val next = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .filterNot(dist.contains)
      dist ++= next.map(_ -> h)
      frontier = next
    }
    dist
  }

  private def run(edges: Seq[(Long, Long)], seeds: Seq[Long],
                  maxHops: Int): Map[Long, Int] = {
    import spark.implicits._
    Bfs.distances(edges.toDF("src", "dst"), "src", "dst",
        seeds.toDF("node"), "node", maxHops)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  test("matches the scalar BFS exactly on a random directed graph") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 400).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)).distinct
      .filter { case (a, b) => a != b }
    val seeds = Seq(0L, 7L, 13L)
    (1 to 4).foreach { h =>
      assert(run(edges, seeds, h) == scalarBfs(edges, seeds.toSet, h),
        s"hops=$h")
    }
  }

  test("seeds are 0 even when absent from the graph; unreachable absent") {
    // chain 1→2→3→4, isolated seed 99, unreachable node 4 at hops=2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val got = run(edges, Seq(1L, 99L), 2)
    assert(got == Map(1L -> 0, 99L -> 0, 2L -> 1, 3L -> 2))
  }

  test("directionality respected: no backward reach") {
    val edges = Seq((1L, 2L), (3L, 2L))
    val got = run(edges, Seq(2L), 3)
    assert(got == Map(2L -> 0)) // 1 and 3 point AT the seed, never reached
  }

  test("duplicate edges and duplicate seeds do not double-count") {
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 3L))
    val got = run(edges, Seq(1L, 1L), 3)
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }
}
