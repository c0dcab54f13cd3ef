package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** HITS: scalar parity of the fixed-point recurrence on a small directed
  * graph, plus the semantic split PageRank can't make — a pure hub
  * (points at everything, nothing points at it) gets authority 0 and the
  * top hub score; the most-pointed-at node gets authority 1. */
class HitsSpec extends AnyFunSuite with SharedSpark {

  test("hits: scalar replica parity and hub/authority separation") {
    import spark.implicits._
    // 1 and 2 are hubs; 10 is cited by both, 11 by one, 12 by one
    val es = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L))
    val rounds = 2
    val out = Hits.hits(es.toDF("src", "dst"), "src", "dst", rounds)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap

    // scalar replica with identical integer math
    val one = 1048576L
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    var h = nodes.map(_ -> one).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to rounds) {
      val ar = nodes.map(v =>
        v -> es.collect { case (u, w) if w == v => h(u) }.sum).toMap
      val am = ar.values.max
      a = ar.map { case (v, x) => v -> x * one / am }
      val hr = nodes.map(v =>
        v -> es.collect { case (u, w) if u == v => a(w) }.sum).toMap
      val hm = hr.values.max
      h = hr.map { case (v, x) => v -> x * one / hm }
    }
    def r6(x: Long) = BigDecimal(x.toDouble / one)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    nodes.foreach { v =>
      assert(out(v) == ((r6(a(v)), r6(h(v)))), s"node $v")
    }
    // hubs have zero authority; node 10 (cited by both) is THE authority
    assert(out(1L)._1 == 0.0 && out(2L)._1 == 0.0)
    assert(out(10L)._1 == 1.0)
    assert(out(10L)._2 == 0.0) // and no out-edges → zero hub
    // hub scores positive for 1 and 2, 1 ≥ 2 (1 cites the authority + 11)
    assert(out(1L)._2 == 1.0 && out(2L)._2 > 0.0)
  }
}
