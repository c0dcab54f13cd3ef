package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Triangles.perNode against a scalar brute-force triple enumeration,
  * plus shape cases: a clique (every node in C(n-1,2) triangles), a
  * bipartite graph (none), and input normalization (direction,
  * duplicates, self-loops). */
class TrianglesSpec extends AnyFunSuite with SharedSpark {

  private def scalar(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = (e.map(_._1) ++ e.map(_._2)).toSeq.sorted
    val tris = for {
      (i, a) <- nodes.zipWithIndex.map(_.swap)
      b <- nodes.drop(i + 1) if e((a, b))
      c <- nodes.dropWhile(_ <= b) if e((b, c)) && e((a, c))
    } yield (a, b, c)
    tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, g) => n -> g.size.toLong }
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Triangles.perNode(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("matches brute force on a random graph") {
    val rnd = new scala.util.Random(23)
    val edges = (1 to 600).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    assert(run(edges) == scalar(edges))
  }

  test("clique: every node in C(n-1,2) triangles") {
    val ids = 1L to 7L
    val edges = for (a <- ids; b <- ids if a < b) yield (a, b)
    assert(run(edges) == ids.map(_ -> 15L).toMap) // C(6,2)
  }

  test("bipartite graph has no triangles") {
    val edges = for (a <- 1L to 5L; b <- 10L to 14L) yield (a, b)
    assert(run(edges).isEmpty)
  }

  test("direction, duplicate edges, and self-loops are normalized away") {
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val noisy = tri ++ tri.map(_.swap) ++ tri ++ Seq((1L, 1L), (2L, 2L))
    assert(run(noisy) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}
