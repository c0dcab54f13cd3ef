package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** LabelPropagation against a scalar reimplementation of the same
  * synchronous recurrence, plus community structure: two dense cliques
  * joined by one bridge edge resolve to two distinct labels. */
class LabelPropagationSpec extends AnyFunSuite with SharedSpark {

  private def scalarLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var labels = nodes.map(n => n -> n).toMap
    (1 to rounds).foreach { _ =>
      val votes = edges.map { case (s, d) => d -> labels(s) } ++
        nodes.map(n => n -> labels(n))
      labels = votes.groupBy(_._1).map { case (n, vs) =>
        val counts = vs.groupBy(_._2).map { case (l, g) => (l, g.size) }
        // highest count, smallest label on ties
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  private def run(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    LabelPropagation.run(edges.toDF("src", "dst"), "src", "dst", rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("matches the scalar synchronous recurrence exactly") {
    val rnd = new scala.util.Random(17)
    val edges = (1 to 400).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).distinct
    assert(run(edges, 4) == scalarLpa(edges, 4))
  }

  test("two cliques with one bridge resolve to two communities") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    val edges = clique(1L to 6L) ++ clique(11L to 16L) ++ Seq((6L, 11L), (11L, 6L))
    val got = run(edges, 5)
    val c1 = (1L to 6L).map(got).toSet
    val c2 = (11L to 16L).map(got).toSet
    assert(c1.size == 1, s"clique 1 not converged: $got")
    assert(c2.size == 1, s"clique 2 not converged: $got")
    assert(c1 != c2, s"cliques merged: $got")
  }
}
