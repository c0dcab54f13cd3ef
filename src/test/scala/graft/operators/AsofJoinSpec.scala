package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** AsofJoin.backward against a brute-force per-row maximum-≤ scan,
  * covering inclusive ties (right ts == left ts), right-side duplicate
  * timestamps (largest tiebreak wins), unmatched lefts (null payload),
  * and keys present on only one side. */
class AsofJoinSpec extends AnyFunSuite with SharedSpark {

  test("backward as-of join equals the brute-force definition") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // small ts domain forces plenty of exact ties
    val left = Seq.tabulate(300)(i => (i.toLong, rnd.nextInt(6).toLong, rnd.nextInt(40).toLong))
    val right = Seq.tabulate(200)(j =>
      (1000L + j, rnd.nextInt(7).toLong, rnd.nextInt(40).toLong, rnd.nextInt(100) / 4.0))

    val l = left.toDF("event_id", "user_id", "ts")
    val r = right.toDF("view_id", "user_id", "ts", "view_value")
    val got = AsofJoin.backward(l, r, Seq("user_id"), "ts", "ts",
        payload = Seq("view_id", "view_value"), tiebreak = "view_id")
      .collect()
      .map(x => (x.getLong(0), (Option(x.get(3)), Option(x.get(4)))))
      .toMap

    left.foreach { case (eid, u, t) =>
      val best = right.filter(v => v._2 == u && v._3 <= t)
        .sortBy(v => (v._3, v._1)).lastOption
      val expect = (best.map(_._1: java.lang.Long).map(x => x: Any),
        best.map(_._4: java.lang.Double).map(x => x: Any))
      assert(got(eid) == expect, s"left=$eid user=$u ts=$t")
    }
    assert(got.size == left.size, "one output row per left row")

    // the scale claim: ONE shuffle on the key columns — the tagged union
    // flows into a single hash-partition exchange feeding the window
    val plan = AsofJoin.backward(l, r, Seq("user_id"), "ts", "ts",
        Seq("view_id", "view_value"), "view_id")
      .queryExecution.executedPlan.toString
    val exchanges = "(?m)Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 shuffle, plan:\n${plan.take(2000)}")
  }

  test("forward as-of join equals the brute-force minimum->= definition") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    // small ts domain forces plenty of exact ties; right-side duplicate
    // timestamps exercise the smallest-tiebreak-wins rule
    val left = Seq.tabulate(300)(i => (i.toLong, rnd.nextInt(6).toLong, rnd.nextInt(40).toLong))
    val right = Seq.tabulate(200)(j =>
      (1000L + j, rnd.nextInt(7).toLong, rnd.nextInt(40).toLong, rnd.nextInt(100) / 4.0))

    val l = left.toDF("event_id", "user_id", "ts")
    val r = right.toDF("purchase_id", "user_id", "ts", "purchase_value")
    val got = AsofJoin.forward(l, r, Seq("user_id"), "ts", "ts",
        payload = Seq("purchase_id", "purchase_value"), tiebreak = "purchase_id")
      .collect()
      .map(x => (x.getLong(0), (Option(x.get(3)), Option(x.get(4)))))
      .toMap

    left.foreach { case (eid, u, t) =>
      val best = right.filter(v => v._2 == u && v._3 >= t)
        .sortBy(v => (v._3, v._1)).headOption
      val expect = (best.map(_._1: java.lang.Long).map(x => x: Any),
        best.map(_._4: java.lang.Double).map(x => x: Any))
      assert(got(eid) == expect, s"left=$eid user=$u ts=$t")
    }
    assert(got.size == left.size, "one output row per left row")
    assert(got.values.exists(_._1.isEmpty),
      "fixture should include lefts after every right (null payload)")
  }

  test("backwardWithin nulls matches older than the tolerance, keeps fresh ones") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val left = Seq.tabulate(200)(i => (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(50).toLong))
    val right = Seq.tabulate(150)(j =>
      (1000L + j, rnd.nextInt(6).toLong, rnd.nextInt(50).toLong, rnd.nextInt(100) / 4.0))
    val tol = 7L

    val got = AsofJoin.backwardWithin(
        left.toDF("event_id", "user_id", "ts"),
        right.toDF("view_id", "user_id", "ts", "view_value"),
        Seq("user_id"), "ts", "ts",
        payload = Seq("view_id", "view_value"), tiebreak = "view_id",
        tolerance = tol)
      .collect()
      .map(x => (x.getLong(0), (Option(x.get(3)), Option(x.get(4)))))
      .toMap

    left.foreach { case (eid, u, t) =>
      val best = right.filter(v => v._2 == u && v._3 <= t)
        .sortBy(v => (v._3, v._1)).lastOption
        .filter(v => t - v._3 <= tol) // the tolerance: stale matches null out
      val expect = (best.map(_._1: java.lang.Long).map(x => x: Any),
        best.map(_._4: java.lang.Double).map(x => x: Any))
      assert(got(eid) == expect, s"left=$eid user=$u ts=$t")
    }
    // the fixture must exercise BOTH outcomes: a match nulled by age and
    // a kept fresh one
    val matched = left.flatMap { case (eid, u, t) =>
      right.filter(v => v._2 == u && v._3 <= t).sortBy(v => (v._3, v._1))
        .lastOption.map(v => (eid, t - v._3))
    }
    assert(matched.exists(_._2 > tol) && matched.exists(_._2 <= tol))
  }

  test("backwardSliced equals backward on a skewed fixture with slice gaps") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // one pathological hot key (user 0) holding most rows over a wide ts
    // range, plus normal keys; ts domain [0, 1000) with sliceWidth 50 →
    // ~20 slices. Right rows cluster in even slices only, so odd slices
    // exercise the carry across gap slices; lefts at ts < first right
    // exercise the null-carry path.
    val left = Seq.tabulate(2000) { i =>
      val u = if (i % 10 < 8) 0L else 1L + rnd.nextInt(3)
      (i.toLong, u, rnd.nextInt(1000).toLong)
    }
    val right = Seq.tabulate(600) { j =>
      val u = if (j % 10 < 8) 0L else 1L + rnd.nextInt(4)
      val slice = rnd.nextInt(10) * 2 // even slices only
      (10000L + j, u, slice * 50L + rnd.nextInt(50), rnd.nextInt(100) / 4.0)
    }
    val l = left.toDF("event_id", "user_id", "ts")
    val r = right.toDF("view_id", "user_id", "ts", "view_value")

    def key(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(x => (x.getLong(0), (Option(x.get(3)), Option(x.get(4))))).sortBy(_._1).toSeq

    val base = key(AsofJoin.backward(l, r, Seq("user_id"), "ts", "ts",
      Seq("view_id", "view_value"), "view_id").collect())
    val sliced = key(AsofJoin.backwardSliced(l, r, Seq("user_id"), "ts", "ts",
      Seq("view_id", "view_value"), "view_id", sliceWidth = 50L).collect())
    assert(sliced == base)

    // a sliceWidth larger than the ts domain degenerates to one slice and
    // must still agree (single-slice == the unsliced algorithm)
    val one = key(AsofJoin.backwardSliced(l, r, Seq("user_id"), "ts", "ts",
      Seq("view_id", "view_value"), "view_id", sliceWidth = 100000L).collect())
    assert(one == base)
  }

  test("reserved __-prefixed input columns are rejected, not mis-resolved") {
    import spark.implicits._
    val l = Seq((1L, 1L, 1L)).toDF("event_id", "user_id", "__t")
    val r = Seq((1L, 1L, 1L, 1.0)).toDF("view_id", "user_id", "ts", "view_value")
    val e = intercept[IllegalArgumentException] {
      AsofJoin.backward(l, r, Seq("user_id"), "__t", "ts",
        Seq("view_id", "view_value"), "view_id")
    }
    assert(e.getMessage.contains("__t"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      AsofJoin.backwardSliced(l, r, Seq("user_id"), "__t", "ts",
        Seq("view_id", "view_value"), "view_id", 10L)
    }
    assert(e2.getMessage.contains("__t"), e2.getMessage)
  }
}
