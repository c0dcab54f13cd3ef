package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** HyperBall neighborhood function: on a graph small enough that every
  * ball fits in the sketch (msz < k), the estimates must be EXACT hop-r
  * reachability counts — pinned against a scalar BFS. A second case
  * forces the estimate regime (k smaller than the ball) and checks the
  * estimator's integer form. */
class HyperBallSpec extends AnyFunSuite with SharedSpark {

  test("exact regime: ball sizes equal scalar BFS reachability counts") {
    import spark.implicits._
    // directed cycle 1→2→…→6→1 plus chord 1→4: in-balls are exact
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 1L), (1L, 4L))
    val out = HyperBall.neighborhood(es.toDF("src", "dst"), "src", "dst",
        rounds = 3, k = 16)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(3))).toMap

    // scalar reference: ball_r(v) = |{u : u reaches v in ≤ r hops}|
    val nodes = es.map(_._1).distinct
    def ball(v: Long, r: Int): Int = {
      var reach = Set(v)
      for (_ <- 1 to r)
        reach = reach ++ es.collect { case (s, d) if reach(d) => s }
      reach.size
    }
    for (v <- nodes; r <- 0 to 3)
      assert(out((v, r)) == ball(v, r), s"node $v radius $r")
  }

  test("a dst-only sink is seeded: its ball exists and includes itself") {
    import spark.implicits._
    // 3 is a pure sink (never a src): it must still get ball rows, with
    // ball_0 = {3}, ball_1 = {3, 2}, ball_2 = {3, 2, 1}
    val es = Seq((1L, 2L), (2L, 3L))
    val out = HyperBall.neighborhood(es.toDF("src", "dst"), "src", "dst",
        rounds = 2, k = 16)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(3))).toMap
    assert(out((3L, 0)) == 1L)
    assert(out((3L, 1)) == 2L)
    assert(out((3L, 2)) == 3L)
  }

  test("duplicate-heavy fan-in: array bottom-k equals distinct bottom-k") {
    // round-12 internals change: the per-round sketch rebuild is now ONE
    // collect_set aggregate sliced to k (was distinct + window row_number).
    // Pin the equivalence where it could break: a node whose in-neighbors
    // all carry overlapping ball members (duplicate-heavy join fan-out)
    // and whose distinct ball exceeds k, so both the dedup and the k-cut
    // are load-bearing in one round.
    import spark.implicits._
    // bipartite fan: sources 1..30 all point at BOTH collectors 100, 101
    // → after round 1 each collector's ball = {30 sources + itself} = 31
    // distinct members arriving as 30 duplicated streams; k = 4 cuts it
    val es = (1L to 30L).flatMap(i => Seq((i, 100L), (i, 101L)))
    val out = HyperBall.neighborhood(es.toDF("src", "dst"), "src", "dst",
        rounds = 1, k = 4)
      .collect().map(r => ((r.getLong(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // both collectors: occupancy exactly k, and identical estimates —
    // they hold the SAME ball, so the bottom-k (and θ) must agree
    // exactly however the duplicates arrived
    assert(out((100L, 1))._1 == 4)
    assert(out((100L, 1)) == out((101L, 1)))
    // sources' balls stay exact singletons at r=0 and (self + nothing
    // in-bound) at r=1
    assert(out((5L, 1)) == (1, 1))
  }

  test("skewed hub: hub-safe bottom-k rebuild equals scalar distinct bottom-k") {
    // round-13 internals change: the per-round rebuild is the
    // bottom_k_distinct typed aggregate (buffer capped at k elements), so
    // a power-law hub's distinct fan-in never sits in one reducer's
    // aggregation buffer. Pin it where it could diverge: a hub whose ≫ k
    // in-neighbors spread bottom-k candidates across MANY map partitions —
    // each partial forwards its own local cut, and the global bottom-k
    // must still be merged across them. Expected values come from a
    // scalar replay of the node-hash + KMV estimator.
    import spark.implicits._
    val fan = 500L
    val k = 8
    val es = (1L to fan).map(i => (i, 0L))
    val out = HyperBall.neighborhood(es.toDF("src", "dst"), "src", "dst",
        rounds = 1, k = k)
      .collect().map(r => ((r.getLong(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    val M = 1000000007L
    def ih(node: Long): Long = {
      val h = (((node % M) + M) % M * 2654435761L + 987654321L) % M
      (h * h + h * 1103515245L + 12345L) % M
    }
    // hub ball_1(0) = {0..500}: 501 distinct members, bottom-k of their
    // hashes, θ = the k-th smallest, integer KMV estimate
    val hashes = (0L to fan).map(ih).distinct.sorted
    val theta = hashes(k - 1)
    assert(out((0L, 1)) == (k.toLong, (k - 1).toLong * M / theta))
    // a spoke's ball stays the exact singleton + itself path (no in-edges)
    assert(out((7L, 1)) == (1L, 1L))
  }

  test("estimate regime: occupancy caps at k and the integer estimator applies") {
    import spark.implicits._
    // star: every node points at hub 0 → ball_1(0) has 41 members > k
    val es = (1L to 40L).map(i => (i, 0L)) ++ Seq((0L, 1L))
    val out = HyperBall.neighborhood(es.toDF("src", "dst"), "src", "dst",
        rounds = 1, k = 8)
      .collect().map(r => ((r.getLong(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    val (msz, est) = out((0L, 1))
    assert(msz == 8, "sketch occupancy capped at k")
    // the KMV estimate is (k−1)·M div θ — far above k, in the right
    // order of magnitude for 41 true members (loose: hash variance)
    assert(est > 8 && est < 4100, s"est=$est")
    // spokes' balls stay exact (their in-ball is tiny)
    assert(out((1L, 1)) == (2, 2))
  }
}
